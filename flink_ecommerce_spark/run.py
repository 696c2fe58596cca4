"""CLI runner: execute any registry query or ad-hoc SQL from a shell.

The migration surface for a reference user: every operator in the
engine is runnable without writing a driver program —

    python -m flink_ecommerce_spark.run q5_regional_revenue \
        --sf /root/testdata/sf0.01
    python -m flink_ecommerce_spark.run --sql \
        "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'"
    python -m flink_ecommerce_spark.run rfm_segments --explain
    python -m flink_ecommerce_spark.run --list
    python -m flink_ecommerce_spark.run bm25_topk --out /tmp/hits.parquet

Output goes to stdout as a show() table (default), one JSON line per
row (``--json``), or a parquet directory (``--out``). The session is
``session.get_spark``'s, so ``SPARK_GRAFT_CPUS`` sets the core count
(default 32).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m flink_ecommerce_spark.run",
        description="Run registry queries or SQL over the catalog tables.",
    )
    p.add_argument("queries", nargs="*", help="registry query names")
    p.add_argument("--sf", default="/root/testdata/sf0.01", help="table dir")
    p.add_argument("--sql", help="ad-hoc ANSI SQL over the catalog views")
    p.add_argument("--list", action="store_true", help="list query names")
    p.add_argument("--explain", action="store_true", help="print the plan")
    p.add_argument("--json", action="store_true", help="JSON lines output")
    p.add_argument("--out", help="write result parquet to this path")
    p.add_argument("--limit", type=int, default=20, help="show() row cap")
    return p


def resolve(spark: SparkSession, sf: str, args: argparse.Namespace):
    """Yield (name, DataFrame) for each requested result — shared by
    the CLI and its tests (which pass their own SparkSession)."""
    from . import registry, sql as sql_api

    if args.sql:
        yield "sql", sql_api.sql(spark, sf, args.sql)
    for name in args.queries:
        if name not in registry.SPECS:
            raise SystemExit(
                f"unknown query {name!r} — see --list for the "
                f"{len(registry.SPECS)} available names"
            )
        yield name, registry.SPECS[name].fn(spark, sf)


def emit(
    name: str, df: DataFrame, args: argparse.Namespace, multi: bool = False
) -> None:
    if args.explain:
        print(f"== {name}")
        df.explain("formatted")
        return
    if args.out:
        # one result -> exactly --out; several (names and/or --sql)
        # -> per-result subdirectories so nothing overwrites
        path = f"{args.out}/{name}" if multi else args.out
        df.write.mode("overwrite").parquet(path)
        print(f"{name}: wrote {path}")
        return
    if args.json:
        # several results -> wrap each line with its query name so
        # the consumer can attribute rows (schemas may collide)
        for row in df.toJSON().toLocalIterator():
            print(f'{{"query": "{name}", "row": {row}}}' if multi else row)
        return
    print(f"== {name}")
    df.show(args.limit, truncate=False)


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    if args.list:
        from . import registry

        for name in registry.SPECS:
            print(name)
        return
    if not args.queries and not args.sql:
        build_parser().print_help()
        raise SystemExit(2)
    spark = get_spark(
        "flink-ecommerce-spark-run",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        results = list(resolve(spark, args.sf, args))
        for name, df in results:
            emit(name, df, args, multi=len(results) > 1)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
