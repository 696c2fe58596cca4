"""Streaming job assembly: the reference job's full dataflow
(DataStreamJob.java:84-170) as Structured Streaming.

One source → four branches (raw upsert + three aggregations), each a
StreamingQuery in update mode writing through foreachBatch upserts.
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

# the reference DTO's full field set (dto/TransactionDTO.java:9-20);
# presence of ALL of these selects the 12-column K2 sink projection
_FULL_DTO_COLS = frozenset(
    {
        "transactionId",
        "productId",
        "productName",
        "productCategory",
        "productPrice",
        "productQuantity",
        "productBrand",
        "totalAmount",
        "currency",
        "customerId",
        "transactionDate",
        "paymentMethod",
    }
)


@dataclass
class Branch:
    """One sink branch: plan + upsert key + output mode."""

    name: str
    plan: Callable[[DataFrame], DataFrame]
    key_cols: tuple[str, ...]
    output_mode: str = "update"


def reference_branches(
    ts_col: str = "transactionDate",
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
    id_col: str = "transactionId",
    user_col: str = "customerId",
    full_schema: bool | None = None,
) -> list[Branch]:
    """The reference's five sink attachments (raw + 3 aggs; ES sink is
    dead code in the reference and omitted by default, K7).

    ``full_schema`` picks the raw branch projection: True forces the
    12-column K2 DTO projection (ddl.TRANSACTIONS_DDL), False the
    5-column remapped subset, and the default None decides per-source
    by whether ALL DTO fields are present — not by the timestamp
    column's name, so a remapped source that happens to call its
    timestamp ``transactionDate`` still gets the 5-column branch."""

    def raw_plan(df: DataFrame) -> DataFrame:
        use_full = full_schema
        if use_full is None:
            use_full = _FULL_DTO_COLS.issubset(set(df.columns))
        if use_full:
            return sales.raw_transactions_full(df)
        return sales.raw_transactions(
            df, id_col, ts_col, user_col, category_col, amount_col
        )

    branches = [
        Branch(
            "transactions",
            raw_plan,
            ("transaction_id",),
            output_mode="append",
        ),
        Branch(
            "sales_per_category",
            lambda df: sales.sales_per_category(df, ts_col, category_col, amount_col),
            ("transaction_date", "category"),
        ),
        Branch(
            "sales_per_day",
            lambda df: sales.sales_per_day(df, ts_col, amount_col),
            ("transaction_date",),
        ),
        Branch(
            "sales_per_month",
            lambda df: sales.sales_per_month(df, ts_col, amount_col),
            ("year", "month"),
        ),
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
                .writeStream.outputMode(branch.output_mode)
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
