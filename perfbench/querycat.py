"""The analytics query catalog, timed for its per-layer metrics in a
traced txn_trickle run: one client runs registry queries back to back
(closed loop) over seeded parquet tables.

It touches no streaming or sink code. Each query is forced with a noop
write, never ``count()``, which would let Catalyst prune the work. A
first pass collects every result and checks it against the query's
DuckDB oracle; it is untimed. PASSES timed passes follow, and each query
reports its median over them.
"""

from __future__ import annotations

import sys
import time

import duckdb

from flink_ecommerce_spark import catalog, registry

from . import oracle, stats, tables
from .context import Context

# A fixed subset of registry.bench_queries(): one query per module the
# 44 call (two for plans.tpch: a scan-aggregate and a six-way join).
# All 44 take about 31 s per warm pass plus 49 s for the first, which
# would not fit the benchmark's run budget.
QUERIES = {
    "asof_last_click": "plans.temporal",
    "bm25_topk": "operators.retrieval",
    "hll_distinct_users": "operators.sketch",
    "epoch_shuffle": "operators.packing",
    "knn_int8": "operators.similarity",
    "line_dedup": "operators.text",
    "lsh_candidate_pairs": "operators.dedup",
    "nb_lang_scores": "operators.classifier",
    "q1_pricing_summary": "plans.tpch",
    "q5_regional_revenue": "plans.tpch",
    "rfm_segments": "plans.analytics",
    "sales_per_category": "plans.sales",
    "token_waterfill": "operators.sampling",
}
PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check_pass(spark, sf: str) -> int:
    """Run every query once, collect it and compare with its oracle;
    returns the number that failed or differed."""
    duck = duckdb.connect()
    failed = 0
    try:
        for name in tables.TABLE_NAMES:
            duck.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')"
            )
        for name in sorted(QUERIES):
            spec = registry.SPECS[name]
            try:
                df = spec.fn(spark, sf)
                rows = df.collect()
                res = duck.execute(spec.oracle)
                diff = oracle.compare_results(
                    df.columns, rows, [c[0] for c in res.description], res.fetchall()
                )
            except Exception as e:  # a failing query is a failed operation
                diff = f"{type(e).__name__}: {str(e)[:300]}"
            if diff:
                failed += 1
                print(f"oracle: {name}: {diff}", file=sys.stderr)
    finally:
        duck.close()
    return failed


def run_catalog(ctx: Context, spark) -> tuple[int, int, dict[str, float]]:
    """(attempted, failed, per-layer metrics) of the catalog over tables
    written from the run's seed."""
    sf, tracer = str(ctx.work / "tables"), ctx.tracer
    tables.write_tables(sf, ctx.seed)
    failed = _check_pass(spark, sf)
    attempted = len(QUERIES) * (1 + PASSES)

    original_table = catalog.table

    def traced_table(s, sf_dir, name):
        with tracer.span("catalog.table"):
            return original_table(s, sf_dir, name)

    catalog.table = traced_table
    samples: dict[str, list[float]] = {n: [] for n in QUERIES}
    try:
        for k in range(PASSES):
            for name in sorted(QUERIES):
                with tracer.span(f"query.{name}", trace=f"pass{k}"):
                    t0 = time.perf_counter()
                    try:
                        _noop(registry.SPECS[name].fn(spark, sf))
                    except Exception as e:
                        failed += 1
                        print(f"query {name} failed: {e}", file=sys.stderr)
                    samples[name].append(time.perf_counter() - t0)
    finally:
        catalog.table = original_table

    per_query = {n: stats.median(v) for n, v in samples.items()}
    m = {f"query.{n}_s": v for n, v in per_query.items()}
    for n, module in QUERIES.items():
        m[f"layer.{module}_s"] = m.get(f"layer.{module}_s", 0.0) + per_query[n]
    m["catalog.total_s"] = sum(per_query.values())
    m["catalog.geomean_s"] = stats.geomean(per_query.values())
    with tracer.span("catalog.scan"):
        t0 = time.perf_counter()
        for name in tables.TABLE_NAMES:
            _noop(catalog.table(spark, sf, name))
        m["catalog.scan_s"] = time.perf_counter() - t0
    return attempted, failed, m
