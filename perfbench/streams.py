"""The two stream workloads. Both run the reference job (JSON
transactions -> raw upsert plus three running sums -> DuckDB sink
tables), assembled through the same public calls ``job.main`` makes, and
both start with the job's life before a downtime: it drains
EARLIER_EVENTS and stops, untimed, leaving the plans compiled in the JVM
as a long-running driver would have them.

txn_backlog: catch-up after downtime. A backlog of JSON files is
already in the watched directory when ``StreamingJob.start()`` is
called; the clock starts there and stops when ``process_available()``
returns. A share of the backlog redelivers transaction ids, so the
transactions upsert takes its conflict path while the sums count every
delivery. Each branch takes the backlog as one batch, so per-row cost
(parse, aggregation, parquet staging, DuckDB merge) decides the drain
rate. The job goes down and comes back to a fresh backlog, once per
ROUND_SECONDS of ``--seconds``.

txn_trickle: open loop. A separate mover process renames one input file
into the watched directory every LIVE_FILE_INTERVAL_S seconds, whatever
the job is doing, for LIVE_WARMUP_S + ``--seconds``. Per-micro-batch
fixed cost decides the latency from a file's due time to the commit of
each branch's batch that read it.
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import duckdb

from flink_ecommerce_spark import job
from flink_ecommerce_spark.plans import sales
from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.sources.kafka import parse_transactions
from flink_ecommerce_spark.streaming.runner import StreamingJob, reference_branches

from . import host, oracle, stats
from .context import Outcome
from .tracing import Tracer

BRANCHES = ("transactions", "sales_per_category", "sales_per_day", "sales_per_month")
AGG_BRANCHES = BRANCHES[1:]

# drained by the job's life before the downtime, which is not timed
EARLIER_EVENTS = 10_000
# The backlog rounds of a run: about --seconds of drain on a 4-core host.
# The number is fixed by --seconds, not by how fast the rounds go, so
# every run of the same length does the same work.
ROUND_SECONDS = 3.0
BACKLOG_EVENTS = 20_000  # per round, before redeliveries
BACKLOG_FILES = 10
REDELIVERED_SHARE = 0.05

LIVE_EVENTS_PER_S = 500
# One file per interval. A batch costs each branch about 1.2-1.8 s, most
# of it fixed, so with a file every 2.5 s each file is a batch of its own
# and the queries idle between files. With a file every 0.5 s they never
# idle, batches take several files, and a slower host makes batches
# bigger and slower still: the latency spread by 30% between runs.
LIVE_FILE_INTERVAL_S = 2.5
# The first live batches are slower; latency is measured after this.
LIVE_WARMUP_S = 5
MOVER_LAG_LIMIT_S = 0.2  # a later rename means the schedule slipped

MOVER = str(Path(__file__).with_name("mover.py"))


@dataclass
class Dirs:
    """One job's watched input, checkpoints, parquet stage and DuckDB file."""

    root: Path

    @classmethod
    def fresh(cls, root: Path) -> "Dirs":
        shutil.rmtree(root, ignore_errors=True)
        d = cls(root)
        for p in (d.watched, d.staging, d.ckpt):
            p.mkdir(parents=True)
        return d

    watched = property(lambda self: self.root / "in")
    staging = property(lambda self: self.root / "pending")
    ckpt = property(lambda self: self.root / "ckpt")
    stage = property(lambda self: self.root / "stage")
    db = property(lambda self: self.root / "sink.duckdb")


class TimedSink:
    """Times each ``foreach_batch`` call of the wrapped sink."""

    def __init__(self, inner, name: str, tracer):
        self.inner, self.name, self.tracer = inner, name, tracer

    def foreach_batch(self):
        write = self.inner.foreach_batch()
        tracer, span = self.tracer, f"sinks.{self.name}.write_batch"

        def timed(batch_df, epoch_id):
            with tracer.span(span, trace=f"{self.name}:{epoch_id}"):
                write(batch_df, epoch_id)
            tracer.count(f"sinks.{self.name}.calls")

        return timed


def start_job(spark, d: Dirs, tracer) -> StreamingJob:
    args = argparse.Namespace(
        source="file",
        input_path=str(d.watched),
        sink="staged",
        jdbc_url=f"duckdb://{d.db}",
        stage_dir=str(d.stage),
        merge_dialect="on_conflict",
    )
    with tracer.span("setup.ddl"):
        factory = job.make_sink_factory(args)
    if tracer.enabled:
        inner_factory = factory

        def factory(branch):
            return TimedSink(inner_factory(branch), branch.name, tracer)

    with tracer.span("setup.build_source"):
        source = job.build_source(spark, args)
    with tracer.span("runner.start"):
        return StreamingJob(
            source=source,
            sink_factory=factory,
            branches=reference_branches(),
            checkpoint_root=str(d.ckpt),
        ).start()


def setup_once(ctx, spark, i: int):
    """One measured set-up: DDL, source and all four queries started on
    an empty directory. Returns the teardown, which is not timed."""
    j = start_job(spark, Dirs.fresh(ctx.work / f"setup{i}"), ctx.tracer)
    return j.stop


# ---------------------------------------------------------------- inputs

def transaction_lines(spark, n: int, seed: int) -> list[str]:
    df = generator.transactions_as_json(generator.transactions(spark, n, seed=seed))
    return [r.value for r in df.collect()]


def write_files(directory: Path, prefix: str, lines: list[str], n_files: int) -> list[str]:
    per = -(-len(lines) // n_files)
    names = []
    for i in range(n_files):
        name = f"{prefix}{i:05d}.json"
        (directory / name).write_text("\n".join(lines[i * per:(i + 1) * per]) + "\n")
        names.append(name)
    return names


# ------------------------------------------------- progress and latency

def file_batches(source_log: Path) -> dict[str, int]:
    """Input file name -> batch id, from a file-source metadata log.
    Every 10th log (Spark's default compact interval) is ``<id>.compact``
    and repeats all earlier entries, each still carrying its own batch id."""
    out: dict[str, int] = {}
    for entry in source_log.iterdir():
        if entry.name.startswith("."):
            continue
        for line in entry.read_text().splitlines()[1:]:  # line 0: version
            if line.strip():
                rec = json.loads(line)
                out[rec["path"].rsplit("/", 1)[-1]] = int(rec["batchId"])
    return out


def commit_times(commits: Path) -> dict[int, float]:
    """Batch id -> wall-clock time its commit was written."""
    return {
        int(p.name): p.stat().st_mtime
        for p in commits.iterdir()
        if p.name.isdigit()
    }


def branch_commit_times(ckpt: Path, branches) -> dict[str, dict[str, float]]:
    """Branch -> input file name -> time the branch committed the batch
    that read the file. Files a branch never committed are left out."""
    out = {}
    for b in branches:
        batches = file_batches(ckpt / b / "sources" / "0")
        commits = commit_times(ckpt / b / "commits")
        out[b] = {f: commits[bid] for f, bid in batches.items() if bid in commits}
    return out


def last_commit_times(per_branch: dict[str, dict[str, float]]) -> dict[str, float]:
    """Input file name -> time the last branch committed it, for the
    files every branch committed."""
    common = set.intersection(*(set(m) for m in per_branch.values()))
    return {f: max(m[f] for m in per_branch.values()) for f in common}


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def runner_metrics(job_: StreamingJob, window_s: float, tracer) -> tuple[dict, int]:
    """Per-branch batches, trigger time and non-sink overhead from each
    query's progress, plus state size and sink timings; and the rows all
    branches read."""
    m: dict[str, float] = {}
    busy, input_rows = [], 0
    for q, b in zip(job_.queries, BRANCHES):
        ran = [p for p in _progress(q) if "addBatch" in p.get("durationMs", {})]
        trig = [p["durationMs"]["triggerExecution"] for p in ran]
        over = [p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in ran]
        input_rows += sum(p["numInputRows"] for p in ran)
        busy.append(sum(trig) / 1000.0 / window_s)
        m[f"runner.{b}.batches"] = len(ran)
        m[f"runner.{b}.trigger_ms_p50"] = stats.median(trig) if trig else 0.0
        m[f"runner.{b}.overhead_ms_p50"] = stats.median(over) if over else 0.0
        if b in AGG_BRANCHES:
            op = ran[-1]["stateOperators"][0] if ran and ran[-1]["stateOperators"] else {}
            m[f"state.{b}.rows_total"] = op.get("numRowsTotal", 0)
            m[f"state.{b}.memory_bytes"] = op.get("memoryUsedBytes", 0)
        empty = {p["batchId"] for p in ran if p["numInputRows"] == 0}
        writes = tracer.durations(f"sinks.{b}.write_batch")
        m[f"sinks.{b}.write_ms_p50"] = stats.median(writes) * 1000 if writes else 0.0
        m[f"sinks.{b}.write_ms_total"] = sum(writes) * 1000
        m[f"sinks.{b}.calls"] = len(writes)
        m[f"sinks.{b}.empty_calls"] = sum(
            1 for s in tracer.spans
            if s.name == f"sinks.{b}.write_batch" and int(s.trace.split(":")[1]) in empty
        )
    m["runner.busy_share"] = sum(busy) / len(busy)
    return m, input_rows


def sink_rows(d: Dirs) -> dict[str, float]:
    con = duckdb.connect(str(d.db), read_only=True)
    try:
        return {
            f"sinks.{b}.rows": con.execute(f"SELECT count(*) FROM {b}").fetchone()[0]
            for b in BRANCHES
        }
    finally:
        con.close()


def check_outputs(d: Dirs, files: list[str]) -> tuple[int, int]:
    """(expected sink rows, wrong sink rows) against the DuckDB oracle."""
    con = duckdb.connect(str(d.db))
    try:
        res = oracle.check_sink_tables(con, files)
    finally:
        con.close()
    for table, (_, wrong) in res.items():
        if wrong:
            print(f"oracle: {table}: {wrong} wrong rows", file=sys.stderr)
    return sum(e for e, _ in res.values()), sum(w for _, w in res.values())


def _drain(job_: StreamingJob) -> set[str]:
    """process_available(); the run ids of the queries that have failed.
    A query stays failed, so callers take the union to count it once."""
    try:
        job_.process_available()
    except Exception as e:  # a failed query is a failed operation, not a crash
        print(f"stream query failed: {e}", file=sys.stderr)
    return {q.runId for q in job_.queries if q.exception() is not None}


def schedule_kept(moved: dict[str, tuple[float, float]], n_files: int) -> bool:
    """True when the mover moved every live file, none later than
    MOVER_LAG_LIMIT_S after its due time. A run whose open-loop schedule
    slipped measured a different load and is invalid."""
    return len(moved) == n_files and all(
        done - due <= MOVER_LAG_LIMIT_S for due, done in moved.values())


# ------------------------------------------------------------- workloads

def with_redeliveries(lines: list[str], seed: int) -> list[str]:
    """``lines`` plus REDELIVERED_SHARE copies of some of them, shuffled."""
    rng = random.Random(seed)
    out = lines + rng.sample(lines, int(len(lines) * REDELIVERED_SHARE))
    rng.shuffle(out)
    return out


def _input_seed(ctx, part: int) -> int:
    """Generator seed of one part of a run's input: transaction ids are
    hashed from it, so the parts of one run share no id."""
    return ctx.seed * 1000 + part


def _max_files_per_batch(ckpt: Path, names: set[str]) -> int:
    most = 0
    for b in BRANCHES:
        counts: dict[int, int] = {}
        for f, bid in file_batches(ckpt / b / "sources" / "0").items():
            if f in names:
                counts[bid] = counts.get(bid, 0) + 1
        most = max([most, *counts.values()])
    return most


def _run_mover(d: Dirs, n_files: int) -> dict[str, tuple[float, float]]:
    """Move the staged live files on schedule; name -> (due, done)."""
    log = d.root / "mover.log"
    start = time.time() + 0.5
    mover = subprocess.Popen(
        [sys.executable, MOVER, str(d.staging), str(d.watched), f"{start:.6f}",
         str(LIVE_FILE_INTERVAL_S), str(log)]
    )
    try:
        mover.wait(timeout=n_files * LIVE_FILE_INTERVAL_S + 30)
    finally:
        if mover.poll() is None:
            mover.kill()
        mover.wait()
    moved = {}
    for row in log.read_text().splitlines():
        name, due, done = row.split()
        moved[name] = (float(due), float(done))
    return moved


def warm_up(ctx, spark, d: Dirs) -> tuple[list[str], set[str]]:
    """The job's life before the downtime, untimed: it drains
    EARLIER_EVENTS and stops. Returns its file names and failed queries."""
    lines = transaction_lines(spark, EARLIER_EVENTS, _input_seed(ctx, 0))
    names = write_files(d.watched, "a", lines, BACKLOG_FILES)
    j = start_job(spark, d, Tracer(False))
    failed = _drain(j)
    j.stop()
    return names, failed


def finish(d: Dirs, names: list[str], failed_queries: set[str],
           phases: dict[str, float]) -> tuple[int, int, dict[str, float]]:
    """Check the sink tables against the oracle over every input file.
    Returns (attempted, failed, sink-row metrics): one operation per
    input file plus one per expected sink row; a file some branch never
    committed, a wrong sink row and a failed query each count as failed."""
    committed = last_commit_times(branch_commit_times(d.ckpt, BRANCHES))
    missing = sum(1 for n in names if n not in committed)
    t = time.perf_counter()
    expected, wrong = check_outputs(d, [str(p) for p in sorted(d.watched.iterdir())])
    phases["check"] = time.perf_counter() - t
    print("perfbench: phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()),
          file=sys.stderr)
    return len(names) + expected, missing + wrong + len(failed_queries), sink_rows(d)


def run_backlog(ctx, spark) -> Outcome:
    d = Dirs.fresh(ctx.work / "stream")
    phases = {}
    t = time.perf_counter()
    names, failed_queries = warm_up(ctx, spark, d)
    phases["earlier"] = time.perf_counter() - t

    rounds = max(2, round(ctx.seconds / ROUND_SECONDS))
    lines = transaction_lines(spark, rounds * BACKLOG_EVENTS, _input_seed(ctx, 1))
    drain_s, cpu, events, started = [], [], 0, {}
    for r in range(rounds):
        if r:
            j.stop()
        backlog = with_redeliveries(
            lines[r * BACKLOG_EVENTS:(r + 1) * BACKLOG_EVENTS], ctx.seed + r)
        round_names = write_files(d.watched, f"b{r}_", backlog, BACKLOG_FILES)
        names += round_names
        t_start, t0, c0 = time.time(), time.perf_counter(), host.tree_cpu_s()
        j = start_job(spark, d, ctx.tracer)
        with ctx.tracer.span("runner.process_available", trace=f"backlog{r}"):
            failed_queries |= _drain(j)
        drain_s.append(time.perf_counter() - t0)
        cpu.append((host.tree_cpu_s() - c0) / len(backlog))
        phases[f"round{r}"] = drain_s[-1]
        events += len(backlog)
        started.update((n, t_start) for n in round_names)
    # progress of the last restart, which took its backlog as one batch
    m, input_rows = runner_metrics(j, time.time() - t_start, ctx.tracer)
    j.stop()

    # catch-up latency: from the restart to the commit of each branch's
    # batch that read the file
    per_branch = branch_commit_times(d.ckpt, BRANCHES)
    lat = [c[n] - started[n] for c in per_branch.values() for n in started if n in c]
    attempted, failed, rows = finish(d, names, failed_queries, phases)
    m.update(rows)
    m["sources.input_rows_per_event"] = input_rows / len(backlog)
    if ctx.tracer.enabled:
        last = [str(d.watched / n) for n in names[-BACKLOG_FILES:]]
        m.update(batch_layers(spark, last, ctx.tracer))
        m["baseline.local1_drain_eps"] = local1_drain_eps(
            ctx, ctx.new_session(cores=1), backlog)
    return Outcome(
        attempted=attempted,
        failed=failed,
        latencies_s=lat,
        throughput=events / sum(drain_s),
        cpu_per_event_s=cpu,
        layers=m,
    )


def run_trickle(ctx, spark) -> Outcome:
    d = Dirs.fresh(ctx.work / "stream")
    per_file = int(LIVE_EVENTS_PER_S * LIVE_FILE_INTERVAL_S)
    n_warm = round(LIVE_WARMUP_S / LIVE_FILE_INTERVAL_S)
    n_live = n_warm + round(ctx.seconds / LIVE_FILE_INTERVAL_S)
    phases = {}
    t = time.perf_counter()
    lines = transaction_lines(spark, n_live * per_file, _input_seed(ctx, 1))
    live = write_files(d.staging, "t", lines, n_live)
    phases["inputs"] = time.perf_counter() - t
    t = time.perf_counter()
    names, failed_queries = warm_up(ctx, spark, d)
    phases["earlier"] = time.perf_counter() - t

    t, t_start, c0 = time.perf_counter(), time.time(), host.tree_cpu_s()
    j = start_job(spark, d, ctx.tracer)
    moved = _run_mover(d, n_live)
    failed_queries |= _drain(j)
    cpu = (host.tree_cpu_s() - c0) / len(lines)
    phases["live"] = time.perf_counter() - t
    m, input_rows = runner_metrics(j, time.time() - t_start, ctx.tracer)
    j.stop()

    per_branch = branch_commit_times(d.ckpt, BRANCHES)
    committed = last_commit_times(per_branch)
    timed = [n for n in live[n_warm:] if n in moved]
    # one sample per file and branch: a file's rows reach each table
    # with that branch's commit
    lat = [c[n] - moved[n][0] for c in per_branch.values() for n in timed if n in c]
    lat_all = [committed[n] - moved[n][0] for n in timed if n in committed]
    # events of the timed files over the time from the first one's due
    # time to the last commit of any of them
    span_s = max(committed[n] for n in timed if n in committed) - moved[timed[0]][0]
    attempted, failed, rows = finish(d, names + live, failed_queries, phases)

    lags = [done - due for due, done in moved.values()]
    m.update(rows)
    m["sources.input_rows_per_event"] = input_rows / len(lines)
    m["sources.generator_lag_ms_p50"] = stats.median(lags) * 1000
    m["sources.generator_lag_ms_max"] = max(lags) * 1000
    m["runner.backlog_files_max"] = _max_files_per_batch(d.ckpt, set(live))
    m["latency_all_branches_p50_ms"] = stats.median(lat_all) * 1000
    ctx.valid = schedule_kept(moved, n_live)
    return Outcome(
        attempted=attempted,
        failed=failed,
        latencies_s=lat,
        throughput=len(timed) * per_file / span_s,
        cpu_per_event_s=[cpu],
        layers=m,
    )


def local1_drain_eps(ctx, spark, lines: list[str]) -> float:
    """One backlog round drained on a single-core session."""
    d = Dirs.fresh(ctx.work / "local1")
    write_files(d.watched, "b", lines, BACKLOG_FILES)
    t0 = time.perf_counter()
    j = start_job(spark, d, ctx.tracer)
    _drain(j)
    eps = len(lines) / (time.perf_counter() - t0)
    j.stop()
    return eps


def batch_layers(spark, files: list[str], tracer) -> dict[str, float]:
    """The parse and the three sums timed as batch jobs over the backlog."""

    def timed(name: str, df) -> float:
        with tracer.span(name):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    raw = spark.read.text(files)
    out = {"sources.parse_s": timed("sources.parse", parse_transactions(raw))}
    parsed = parse_transactions(raw).cache()
    parsed.count()
    out["plans.sales.per_category_s"] = timed(
        "plans.sales.per_category", sales.sales_per_category(parsed))
    out["plans.sales.per_day_s"] = timed("plans.sales.per_day", sales.sales_per_day(parsed))
    out["plans.sales.per_month_s"] = timed(
        "plans.sales.per_month", sales.sales_per_month(parsed))
    parsed.unpersist()
    return out
