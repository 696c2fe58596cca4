"""SQL API over the catalog: ad-hoc SQL == DataFrame twin."""

from __future__ import annotations

from flink_ecommerce_spark import catalog, registry, sql as sql_mod
from flink_ecommerce_spark.plans import sales

from tests.conftest import SF_SMALL


def test_sql_equals_dataframe_plan(spark):
    got = sql_mod.sql(
        spark,
        SF_SMALL,
        """
        SELECT CAST(ts AS DATE) AS transaction_date,
               ROUND(SUM(value), 2) AS total_sales
        FROM events GROUP BY 1
        """,
    ).collect()
    expected = sales.sales_per_day(
        catalog.table(spark, SF_SMALL, "events"), "ts", "value"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_sql_join_across_views(spark):
    n = sql_mod.sql(
        spark,
        SF_SMALL,
        "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey",
    ).collect()[0][0]
    assert n == catalog.table(spark, SF_SMALL, "orders").count()


def test_registry_queries_compose_as_views(spark):
    """Operator results are SQL relations: register a few registry
    queries as views and JOIN them in plain SQL."""
    for name in ("dedup_exact", "profile_documents"):
        registry.SPECS[name].fn(spark, SF_SMALL).createOrReplaceTempView(name)
    out = spark.sql(
        """
        SELECT p.source, COUNT(*) AS n_unique_docs
        FROM dedup_exact d
        JOIN documents doc ON doc.doc_id = d.keep_doc_id
        JOIN profile_documents p ON p.source = doc.source
        GROUP BY 1
        """
    ).collect()
    assert len(out) > 0
