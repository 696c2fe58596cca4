"""Benchmark entry point.

    python3 perfbench/run.py --workload txn_backlog --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads: txn_backlog and txn_trickle
(see perfbench/README.md); a traced txn_trickle run also times the
analytics query catalog. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with ``--trace
0``, its per-layer metrics with ``--trace 1``. A traced run also writes
its spans and counts to ``.bench_work/trace.json`` and the Spark conf
it ran with to ``.bench_work/spark_conf.json``. Exits non-zero,
printing no result, when the program is missing, the run fails, or the
run is invalid because the open-loop mover fell behind its schedule.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SETUP_REPS = 5
# between set-ups: the stopped session's threads wind down, as they
# would during a downtime, instead of competing with the timed set-up
SETTLE_S = 0.5
WORKLOADS = ("txn_backlog", "txn_trickle")


def timed_setups(ctx, setup_once) -> list[float]:
    """Set up SETUP_REPS times: session, then the job's own set-up. The
    first sample counts from process start (imports and JVM launch); the
    later ones create a new session in the running JVM, after the
    previous one was stopped untimed."""
    samples = []
    for i in range(SETUP_REPS):
        if i:
            ctx.stop_session()
            time.sleep(SETTLE_S)
        t0 = T0 if i == 0 else time.perf_counter()
        with ctx.tracer.span("setup", trace=f"setup{i}"):
            with ctx.tracer.span("setup.session"):
                spark = ctx.new_session()
            teardown = setup_once(ctx, spark, i)
        samples.append(time.perf_counter() - t0)
        teardown()
    return samples


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    if not (ROOT / "flink_ecommerce_spark" / "__init__.py").is_file():
        print(f"perfbench: no program to run under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    from perfbench import host, querycat, stats, streams
    from perfbench.context import DRIVER_MEM, Context
    from perfbench.tracing import Tracer

    work = ROOT / ".bench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    ctx = Context(args.seed, args.seconds, Tracer(bool(args.trace)), work)
    steal0 = host.cpu_times()

    run = streams.run_backlog if args.workload == "txn_backlog" else streams.run_trickle
    try:
        setups = timed_setups(ctx, streams.setup_once)
        spark_conf = dict(ctx.spark.sparkContext.getConf().getAll())
        out = run(ctx, ctx.spark)
        rss = host.peak_rss_mb()
        if ctx.tracer.enabled and args.workload == "txn_trickle":
            # the catalog's layers, timed after the stream (README.md)
            attempted, failed, layers = querycat.run_catalog(ctx, ctx.new_session())
            out.attempted += attempted
            out.failed += failed
            out.layers.update(layers)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        for entry in work.iterdir():  # inputs, checkpoints, sink files
            shutil.rmtree(entry, ignore_errors=True)

    steal = host.steal_pct(steal0, host.cpu_times())
    tail_pct, tail_s = stats.tail_percentile(out.latencies_s)
    print(
        f"perfbench: {args.workload} seed={args.seed} valid={ctx.valid} "
        f"steal={steal:.2f}% nproc={os.cpu_count()} cores={ctx.cores} "
        f"driver_mem={DRIVER_MEM} latency_p50={stats.median(out.latencies_s) * 1000:.0f}ms "
        f"tail=p{tail_pct:g} n={len(out.latencies_s)} throughput={out.throughput:.1f}/s "
        f"setups={','.join(f'{x:.3f}' for x in setups)}",
        file=sys.stderr,
    )
    if not ctx.valid:
        print("perfbench: invalid run: the mover fell behind its schedule", file=sys.stderr)
        return 3
    e2e = {
        "setup_s": stats.median(setups),
        "cpu_us_per_event": stats.median(out.cpu_per_event_s) * 1e6,
    }
    tr = ctx.tracer
    if tr.enabled:
        layers = dict(out.layers)
        for span_name, secs in tr.self_times().items():
            key = f"self.{span_name.split('.')[0]}_s"
            layers[key] = layers.get(key, 0.0) + secs
        layers.update({
            "latency_p50_ms": stats.median(out.latencies_s) * 1000,
            "throughput_per_s": out.throughput,
            "peak_rss_mb": rss,
            "latency_tail_ms": tail_s * 1000,
            "run.latency_tail_pct": tail_pct,
            "run.latency_samples": len(out.latencies_s),
            "host.steal_pct": steal,
            "host.nproc": os.cpu_count(),
            "conf.cores": ctx.cores,
            "conf.driver_mem_mb": int(DRIVER_MEM[:-1]) * 1024,
            "trace.spans": len(tr.spans),
            "trace.bookkeeping_ms": tr.bookkeeping_s * 1000,
            **{f"trace.{k}": v for k, v in e2e.items() if k != "setup_s"},
        })
        tr.dump(str(work / "trace.json"))
        (work / "spark_conf.json").write_text(json.dumps(spark_conf, indent=1))
        declared = spec["per_layer"]
        undeclared = set(layers) - {m["name"] for m in declared}
        if undeclared:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in declared}
    else:
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}

    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
