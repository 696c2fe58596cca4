"""Streaming job assembly: the reference job's full dataflow
(DataStreamJob.java:84-170) as Structured Streaming.

One source → four branches (raw upsert + three running sums), each a
stateless StreamingQuery writing through foreachBatch upserts. No
branch aggregates in Spark: each sum branch streams one row per sale
(its key columns, built by the same ``plans/sales.py`` key
expressions the batch ``sales_per_*`` plans group by, plus the
amount as ``total_sales``), and its sink adds the batch's sums to the
table under an epoch ledger (streaming/sinks.py). No plan filters: a
key-less row reaches the sink, whose statement skips it, so each
branch parses an event once. The sink tables hold the running sums,
as the reference's Postgres tables do. That
streaming and batch sums agree is checked, not built in: the tests
compare each sum table with the batch ``sales_per_*_cents`` plans,
and perfbench with its DuckDB stream oracle.

Reference-vs-us deliberate deltas (SURVEY.md §7):
- checkpointing always on (reference never enabled it),
- one-time DDL at startup, not per-batch (fixes K1),
- aggregation keys = full sink upsert keys (fixes Q1/Q2).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.util import inheritable_thread_target

from ..plans import sales

TRIGGER_MS = 200  # reference flush interval, DataStreamJob.java:102


@dataclass
class Branch:
    """One sink branch: plan + upsert key. The plan's output columns,
    in order, are the sink table's columns. ``sum_col`` marks a
    running-sum table: the plan emits one row per sale and the sink
    adds each batch's per-key sums of ``sum_col`` to the table."""

    name: str
    plan: Callable[[DataFrame], DataFrame]
    key_cols: tuple[str, ...]
    sum_col: str | None = None


def reference_branches() -> list[Branch]:
    """The reference's five sink attachments (raw + 3 sums; ES sink is
    dead code in the reference and omitted by default, K7) over the
    12-field transaction DTO (``schemas.TRANSACTION_SCHEMA``, which
    every ``job.build_source`` source delivers). The transactions
    branch is the 12-column K2 projection (ddl.TRANSACTIONS_DDL); each
    sum branch projects its key columns and ``total_sales``, its
    table's columns, so whichever sink the job's ``--jdbc-url`` scheme
    picks writes the batch as given, rows with a NULL key included
    (``sinks.upsert_sql`` skips them)."""
    return [
        Branch("transactions", sales.raw_transactions_full, ("transaction_id",)),
        Branch(
            "sales_per_category",
            _sale_rows(sales.category_keys),
            ("transaction_date", "category"),
            sum_col="total_sales",
        ),
        Branch(
            "sales_per_day",
            _sale_rows(sales.day_keys),
            ("transaction_date",),
            sum_col="total_sales",
        ),
        Branch(
            "sales_per_month",
            _sale_rows(sales.month_keys),
            ("year", "month"),
            sum_col="total_sales",
        ),
    ]


def _sale_rows(
    keys: Callable[[], list[Column]],
) -> Callable[[DataFrame], DataFrame]:
    """One row per sale: the sum's key columns and the amount."""
    return lambda df: df.select(*keys(), F.col("totalAmount").alias("total_sales"))


def start_query(
    df: DataFrame,
    name: str,
    checkpoint: str,
    foreach_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start ``df`` as the stream query ``name``, the one way the job
    starts a query: a micro-batch every ``TRIGGER_MS``, its checkpoint
    at ``checkpoint``, and each batch handed to ``foreach_batch``."""
    return (
        df.writeStream.queryName(name)
        .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(foreach_batch)
        .start()
    )


@dataclass
class StreamingJob:
    """Assembled job: start()/stop()/process_available() over all
    branches. ``sink_factory(branch)`` returns an object with a
    ``foreach_batch()`` callable (see streaming/sinks.py).

    ``start()`` starts the branches' queries concurrently, one thread
    per branch, so set-up waits for the slowest start rather than for
    every start in turn; ``queries`` is in branch order all the same.
    A start that fails stops the queries that did start, then raises.

    ``checkpoint_root`` is required: each branch's checkpoint keeps its
    query id and the files or offsets its source has read. Without it a
    restart would get a new query id and re-read every input, and the
    epoch ledger would add the sums a second time."""

    source: DataFrame
    sink_factory: Callable[[Branch], object]
    branches: list[Branch]
    checkpoint_root: str
    queries: list[StreamingQuery] = field(init=False, default_factory=list)
    sinks: dict[str, object] = field(init=False, default_factory=dict)

    def start(self) -> "StreamingJob":
        """Make each branch's sink, in order on this thread, then plan
        and start every branch's query at once, each on its own thread
        with this thread's Spark local properties. Returns when all have
        started, with ``queries`` in branch order. If any plan or start
        fails, the queries that started are stopped and the first
        failure, in branch order, is raised."""
        for branch in self.branches:
            self.sinks[branch.name] = self.sink_factory(branch)
        spark = self.source.sparkSession
        # foreachBatch starts Py4J's callback server on its first use,
        # unlocked; start it here so that the threads find it running
        ensure_callback_server_started(spark.sparkContext._gateway)
        start_branch = inheritable_thread_target(spark)(self._start_branch)
        with ThreadPoolExecutor(len(self.branches)) as pool:
            starts = [pool.submit(start_branch, b) for b in self.branches]
        errors = [f.exception() for f in starts if f.exception() is not None]
        self.queries = [f.result() for f in starts if f.exception() is None]
        if errors:
            self.stop()
            raise errors[0]
        return self

    def _start_branch(self, branch: Branch) -> StreamingQuery:
        return start_query(
            branch.plan(self.source),
            branch.name,
            f"{self.checkpoint_root}/{branch.name}",
            self.sinks[branch.name].foreach_batch(),
        )

    def process_available(self) -> None:
        """Drain everything currently available (test harness use)."""
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
