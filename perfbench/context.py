"""What one benchmark run carries between its steps: arguments, the
working directory inside the checkout, the tracer and the Spark
session, plus the outcome a workload hands back."""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

from .tracing import Tracer

# get_spark defaults to a 48g driver heap; pin one that fits a small
# host and report it, because heap size moves peak RSS
DRIVER_MEM = "2g"
# Spark gets half of a 4-core host. The rest is left to the driver's
# planning and JIT threads, DuckDB, the Python side and the mover; with
# every core given to Spark, stream latency varied by a fifth between
# runs.
MAX_CORES = 2


@dataclass
class Outcome:
    attempted: int
    failed: int
    latencies_s: list[float]  # per operation: an input file or a query
    throughput: float  # operations completed per second
    # CPU seconds of the process tree per event: one sample per backlog
    # round, or one over the live phase
    cpu_per_event_s: list[float]
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    seed: int
    seconds: int
    tracer: Tracer
    work: Path
    cores: int = field(default_factory=lambda: min(MAX_CORES, os.cpu_count() or 1))
    valid: bool = True
    spark: object = None

    def conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # the default keeps 100 progress entries per query
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            # keep every commit file: latencies are read from them
            "spark.sql.streaming.minBatchesToRetain": "100000",
        }

    def new_session(self, cores: int | None = None):
        """(Re)create the session with ``session.get_spark``, as job.main does."""
        from flink_ecommerce_spark.session import get_spark

        self.stop_session()
        os.environ["SPARK_GRAFT_CPUS"] = str(cores or self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.spark = get_spark("perfbench", extra_conf=self.conf())
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
