"""Table loading: parquet directories -> DataFrames.

Reads are plain ``spark.read.parquet`` so Catalyst gets full
predicate-pushdown / column-pruning / partition-pruning freedom; at
100 TB the same call points at a partitioned table root and prune
rules take care of the rest. Nothing here materializes.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

from .schemas import TABLE_NAMES


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. `name` must be one of TABLE_NAMES.

    Works on ANY SparkSession (the driver supplies its own): the two
    correctness-critical session confs are set here, dynamically —
    UTC timezone (oracle parity for date/year extraction) and
    nanosAsLong (events.ts is parquet TIMESTAMP(NANOS), which Spark
    only reads as a raw int64).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # int64 nanos → truncate to micros (same as DuckDB's
        # nanos→micros truncation, integer division).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def schema_violations(df: DataFrame, expected) -> list[str]:
    """Data-contract check: human-readable violations of ``df``'s
    schema against an expected StructType — missing columns, extra
    columns, and type mismatches (nullability is advisory in parquet
    and deliberately not enforced). Empty list = contract holds.

    This is the ingestion-side guard for a fixed-schema engine
    (SURVEY.md §1.2): run it before a batch enters the pipeline so a
    producer-side schema drift fails loudly at the boundary instead
    of as a NULL-filled join three stages later."""
    got = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in expected.fields}
    issues = []
    for name in want:
        if name not in got:
            issues.append(f"missing column {name} ({want[name].simpleString()})")
        elif got[name].simpleString() != want[name].simpleString():
            issues.append(
                f"type mismatch {name}: expected {want[name].simpleString()}, "
                f"got {got[name].simpleString()}"
            )
    for name in got:
        if name not in want:
            issues.append(f"unexpected column {name} ({got[name].simpleString()})")
    return issues
