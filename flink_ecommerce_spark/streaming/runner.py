"""Streaming job assembly: the reference job's full dataflow
(DataStreamJob.java:84-170) as Structured Streaming.

One source → four branches (raw upsert + three aggregations), each a
StreamingQuery in update mode writing through foreachBatch upserts
(for the raw branch, which has no aggregation, update mode emits
exactly what append would).
The plan functions are the SAME batch functions from plans/sales.py —
written stream-agnostic, so batch results and streaming final-state
are equal by construction (tested in tests/test_streaming.py).

Reference-vs-us deliberate deltas (SURVEY.md §7):
- checkpointing ON (reference never enabled it),
- one-time DDL at startup, not per-batch (fixes K1),
- aggregation keys = full sink upsert keys (fixes Q1/Q2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..plans import sales

DEFAULT_TRIGGER_MS = 200  # reference flush interval, DataStreamJob.java:102


@dataclass
class Branch:
    """One sink branch: plan + upsert key. The plan's output columns,
    in order, are the sink table's columns."""

    name: str
    plan: Callable[[DataFrame], DataFrame]
    key_cols: tuple[str, ...]


def reference_branches() -> list[Branch]:
    """The reference's five sink attachments (raw + 3 aggs; ES sink is
    dead code in the reference and omitted by default, K7) over the
    12-field transaction DTO (``schemas.TRANSACTION_SCHEMA``, which
    every ``job.build_source`` source delivers). The transactions
    branch is the 12-column K2 projection (ddl.TRANSACTIONS_DDL). Each
    plan's output columns are its table's columns, so whichever sink
    the job's ``--jdbc-url`` scheme picks writes the batch as given."""
    branches = [
        Branch("transactions", sales.raw_transactions_full, ("transaction_id",)),
        Branch(
            "sales_per_category",
            sales.sales_per_category,
            ("transaction_date", "category"),
        ),
        Branch("sales_per_day", sales.sales_per_day, ("transaction_date",)),
        Branch("sales_per_month", sales.sales_per_month, ("year", "month")),
    ]
    # A row with a null upsert key (a malformed JSON line parses to an
    # all-null row) would fail the sink's NOT NULL key and, with it, the
    # whole batch on every retry; drop it before the sink. Not yet
    # counted anywhere.
    for b in branches:
        b.plan = _drop_null_keys(b.plan, b.key_cols)
    return branches


def _drop_null_keys(
    plan: Callable[[DataFrame], DataFrame], key_cols: tuple[str, ...]
) -> Callable[[DataFrame], DataFrame]:
    return lambda df: plan(df).dropna(subset=list(key_cols))


@dataclass
class StreamingJob:
    """Assembled job: start()/stop()/process_available() over all
    branches. ``sink_factory(branch)`` returns an object with a
    ``foreach_batch()`` callable (see streaming/sinks.py)."""

    source: DataFrame
    sink_factory: Callable[[Branch], object]
    branches: list[Branch]
    checkpoint_root: str | None = None
    trigger_ms: int = DEFAULT_TRIGGER_MS
    queries: list[StreamingQuery] = field(default_factory=list)
    sinks: dict[str, object] = field(default_factory=dict)

    def start(self) -> "StreamingJob":
        for branch in self.branches:
            sink = self.sink_factory(branch)
            self.sinks[branch.name] = sink
            writer = (
                branch.plan(self.source)
                .writeStream.outputMode("update")
                .queryName(branch.name)
                .trigger(processingTime=f"{self.trigger_ms} milliseconds")
                .foreachBatch(sink.foreach_batch())
            )
            if self.checkpoint_root:
                writer = writer.option(
                    "checkpointLocation", f"{self.checkpoint_root}/{branch.name}"
                )
            self.queries.append(writer.start())
        return self

    def process_available(self) -> None:
        """Drain everything currently available (test harness use)."""
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
