"""User-facing SQL API: run ANSI SQL over the catalog tables.

The reference has no SQL layer at all (SURVEY.md §4); on Spark the
SQL surface is free — same Catalyst plans as the DataFrame API — so
we expose it: every catalog table becomes a temp view and arbitrary
``spark.sql`` runs against them. DataFrame plans and SQL text are
interchangeable (tests assert a SQL query equals its DataFrame twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import catalog


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Register all catalog tables as temp views, run ``query``."""
    catalog.register_views(spark, sf_dir)
    return spark.sql(query)
