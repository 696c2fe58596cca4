"""CDC / SCD2 merge emulation — MERGE INTO without a table format.

Delta/Iceberg aren't on the classpath (README), so the slowly-
changing-dimension type-2 merge is expressed as pure DataFrame
algebra: close changed rows, append new versions, keep everything
else. One shuffle on the business key.

Scale notes: both inputs shuffle once on ``key``; the change
detection is a join + column comparison, no window over history —
current rows only. History (closed rows) is untouched pass-through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Open rows carry NULL valid_to (is_current is the flag). A far-future
# sentinel like 9999-12-31 overflows pandas' nanosecond timestamps
# (cap 2262-04-11) in any Arrow/pandas interchange layer, so NULL is
# the portable representation of "no end".
OPEN_END = None


def scd2_merge(
    current: DataFrame, updates: DataFrame, key: str, attrs: list[str]
) -> DataFrame:
    """Apply ``updates(key, attrs, effective_ts)`` to an SCD2 ``current``
    table with columns (key, attrs, valid_from, valid_to, is_current).

    - new key → insert open row
    - changed attrs → close old row at the update ts, insert open row
    - unchanged → keep as-is
    Late-arriving updates older than the open row are ignored (the
    standard append-only SCD2 contract). When one batch carries
    SEVERAL updates for a key, only the latest (by ``effective_ts``,
    tie-broken deterministically on the attrs) is applied — the
    intra-batch history is collapsed, matching MERGE semantics where
    a source must have one row per key."""
    # latest-per-key as max(struct(ts, attrs)): struct ordering is the
    # same (DESC ts, DESC attrs, nulls smallest) tie-break as the
    # previous row_number window, with map-side combine instead of a
    # per-key sort
    updates = (
        updates.groupBy(key)
        .agg(F.max(F.struct("effective_ts", *attrs)).alias("__m"))
        .select(
            key,
            *[F.col(f"__m.{a}").alias(a) for a in attrs],
            F.col("__m.effective_ts").alias("effective_ts"),
        )
    )
    open_rows = current.filter(F.col("is_current"))
    closed_rows = current.filter(~F.col("is_current"))

    changed_cond = F.lit(False)
    for a in attrs:
        changed_cond = changed_cond | ~F.col(f"u.{a}").eqNullSafe(F.col(f"o.{a}"))

    u = updates.alias("u")
    o = open_rows.alias("o")
    joined = u.join(o, F.col(f"u.{key}") == F.col(f"o.{key}"), "left")

    fresh = joined.filter(
        F.col(f"o.{key}").isNull()
        | (changed_cond & (F.col("u.effective_ts") > F.col("o.valid_from")))
    )
    # rows to insert (new open versions)
    inserts = fresh.select(
        F.col(f"u.{key}").alias(key),
        *[F.col(f"u.{a}").alias(a) for a in attrs],
        F.col("u.effective_ts").alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    # open rows being superseded -> close them at the update ts
    superseded_keys = fresh.filter(F.col(f"o.{key}").isNotNull()).select(
        F.col(f"u.{key}").alias(key), F.col("u.effective_ts").alias("__close_ts")
    )
    closed_now = (
        open_rows.join(superseded_keys, key)
        .select(
            key,
            *attrs,
            "valid_from",
            F.col("__close_ts").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    untouched_open = open_rows.join(
        superseded_keys.select(key), key, "left_anti"
    )
    return (
        closed_rows.unionByName(untouched_open)
        .unionByName(closed_now)
        .unionByName(inserts)
    )


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    attrs: list[str] | None = None,
) -> DataFrame:
    """Point-in-time enrichment: attach to each fact row the dimension
    version whose validity interval ``[valid_from, valid_to)`` contains
    the fact's timestamp (open rows have NULL valid_to). Facts that
    predate the key's first version — or whose key has no dimension row
    at all — keep NULL attributes (left join).

    SCD2 intervals are disjoint per key, so at most one version matches
    and fact cardinality is preserved.

    Scale notes: this is an EQUI-join on ``key`` with the interval
    containment as a residual predicate — Catalyst plans a broadcast
    hash join when the dimension fits (the normal case: dimensions are
    orders of magnitude smaller than the fact stream) and a single
    key-shuffle otherwise. The residual evaluates per matched (key)
    group, which is bounded by the key's version count — no window over
    the fact table, no range-join blowup.
    """
    if attrs is None:
        attrs = [
            c
            for c in dim.columns
            if c not in (key, "valid_from", "valid_to", "is_current")
        ]
    f_ = facts.alias("f")
    d = dim.alias("d")
    cond = (
        (F.col(f"f.{key}") == F.col(f"d.{key}"))
        & (F.col(f"f.{fact_ts}") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col(f"f.{fact_ts}") < F.col("d.valid_to")))
    )
    return f_.join(d, cond, "left").select(
        *[F.col(f"f.{c}") for c in facts.columns],
        *[F.col(f"d.{a}").alias(a) for a in attrs],
        F.col("d.valid_from").alias("version_from"),
    )


def empty_scd2(updates: DataFrame, key: str, attrs: list[str]) -> DataFrame:
    """Bootstrap an SCD2 table from an initial snapshot."""
    return updates.select(
        key,
        *attrs,
        F.col("effective_ts").alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
