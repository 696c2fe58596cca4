"""Data contracts: ``catalog.schema_violations`` names missing, extra
and type-drifted columns, and the fixture tables match the declared
schemas."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_schema_violations_contract_check(spark):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from flink_ecommerce_spark.catalog import schema_violations

    expected = StructType([
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("score", DoubleType()),
    ])
    ok = spark.createDataFrame([(1, "a", 0.5)], expected)
    assert schema_violations(ok, expected) == []

    drifted = spark.createDataFrame(
        [(1, 2, "x")], "id long, score long, extra string"
    )
    issues = schema_violations(drifted, expected)
    assert sorted(issues) == [
        "missing column name (string)",
        "type mismatch score: expected double, got bigint",
        "unexpected column extra (string)",
    ]


def test_fixture_tables_match_declared_schemas(spark):
    """The engine's own contracts hold on the driver fixtures for the
    LLM-pipeline tables (events ts intentionally varies between
    int64-nanos and timestamp across fixture generations — catalog
    normalizes it, so events is checked post-load elsewhere)."""
    from flink_ecommerce_spark import schemas
    from flink_ecommerce_spark.catalog import schema_violations, table

    for name, expected in (
        ("documents", schemas.DOCUMENTS_SCHEMA),
        ("embeddings", schemas.EMBEDDINGS_SCHEMA),
    ):
        df = table(spark, SF_SMALL, name)
        assert schema_violations(df, expected) == [], name
