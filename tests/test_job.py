"""End-to-end job entry point: file source → 4 branches → DuckDB
sinks, DDL statement sanity, source schema, URL checks at start-up."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from flink_ecommerce_spark import job as job_mod
from flink_ecommerce_spark.plans import sales
from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.streaming import ddl


def test_ddl_runs_once_with_fake_connection():
    executed = []

    class Cur:
        def execute(self, sql):
            executed.append(sql.strip().split("(")[0].strip())

    class Conn:
        def cursor(self):
            return Cur()

        def commit(self):
            pass

        def close(self):
            pass

    ddl.create_sink_tables(lambda: Conn())
    # the four sink tables and the epoch ledger
    assert len(executed) == 5
    assert all(e.startswith("CREATE TABLE IF NOT EXISTS") for e in executed)


def test_file_source_schema(spark, tmp_path):
    """The file source delivers the 12-field transaction DTO, name and
    type field for field. Kafka is not run here: it goes through the
    same ``parse_transactions`` as ``file``."""
    import argparse

    from flink_ecommerce_spark.schemas import TRANSACTION_SCHEMA

    src = tmp_path / "in"
    src.mkdir()
    df = generator.transactions(spark, n_rows=3, seed=47)
    (src / "part-0.json").write_text(
        "\n".join(r["value"] for r in generator.transactions_as_json(df).collect())
    )
    args = argparse.Namespace(source="file", input_path=str(src))
    stream = job_mod.build_source(spark, args)

    assert [(f.name, f.dataType) for f in stream.schema.fields] == [
        (f.name, f.dataType) for f in TRANSACTION_SCHEMA.fields
    ]


@pytest.mark.parametrize("url", ["duckdb://", "duckdb://:memory:"])
def test_in_memory_duckdb_url_is_rejected_before_any_query(spark, tmp_path, url):
    """An in-memory DuckDB is a new, empty database per connection, so
    the DDL and every sink batch would each see a different one: the
    job refuses the URL at start-up and starts no query."""
    src = tmp_path / "in"
    src.mkdir()
    before = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="needs a file path"):
        job_mod.start(["--source", "file", "--input-path", str(src),
                       "--jdbc-url", url, "--checkpoint", str(tmp_path / "ck")])
    assert {q.id for q in spark.streams.active} == before
    assert not (tmp_path / "ck").exists()


def test_job_cli_staged_duckdb_end_to_end(spark, tmp_path):
    """The airgapped CLI path: file source → four branches → DuckDB
    file. Every branch gets a StagedMergeSink on the duckdb:// URL's
    connection, so only the driver opens the file: executors that opened
    it themselves would fail on DuckDB's single write lock. DDL runs at
    start-up, every table fills, and totals are conserved across
    branches."""
    import duckdb

    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    src = str(tmp_path / "in")
    df = generator.transactions(spark, n_rows=300, seed=43)
    generator.transactions_as_json(df).coalesce(2).write.mode("overwrite").text(src)
    db = str(tmp_path / "job.duckdb")

    job = job_mod.start(
        [
            "--source", "file",
            "--input-path", src,
            "--jdbc-url", f"duckdb://{db}",
            "--checkpoint", str(tmp_path / "ck"),
        ]
    )
    try:
        job.process_available()
        failed = [q.name for q in job.queries if q.exception() is not None]
    finally:
        job.stop()

    assert failed == []
    assert set(job.sinks) == {
        "transactions", "sales_per_category", "sales_per_day", "sales_per_month",
    }
    assert all(isinstance(s, StagedMergeSink) for s in job.sinks.values())
    con = duckdb.connect(db)
    counts = {
        t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in job.sinks
    }
    total_raw = con.execute("SELECT ROUND(SUM(total_amount), 2) FROM transactions").fetchone()[0]
    total_day = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_day").fetchone()[0]
    total_cat = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_category").fetchone()[0]
    total_month = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_month").fetchone()[0]
    con.close()
    assert counts["transactions"] == 300
    assert all(n > 0 for n in counts.values()), counts
    # conservation across branches
    for total in (total_day, total_cat, total_month):
        assert abs(total_raw - total) < 0.05


def test_enable_es_starts_a_fifth_query_the_same_way(spark, tmp_path):
    """``--enable-es`` adds the Elasticsearch query beside the four sink
    queries, started the same way: named, with its own checkpoint
    under ``--checkpoint``. The input is empty, so nothing is sent."""
    src = tmp_path / "in"
    src.mkdir()
    job = job_mod.start(
        [
            "--source", "file",
            "--input-path", str(src),
            "--jdbc-url", f"duckdb://{tmp_path / 'job.duckdb'}",
            "--checkpoint", str(tmp_path / "ck"),
            "--enable-es", "--es-url", "http://localhost:9",
        ]
    )
    try:
        job.process_available()
        names = [q.name for q in job.queries]
        active = [q.isActive for q in job.queries]
    finally:
        job.stop()
    assert names == [
        "transactions", "sales_per_category", "sales_per_day", "sales_per_month",
        "es_transactions",
    ]
    assert all(active)
    assert sorted(p.name for p in (tmp_path / "ck").iterdir()) == sorted(
        ["transactions", "sales_per_category", "sales_per_day", "sales_per_month", "es"]
    )


def test_failed_es_start_stops_the_four_queries(spark, tmp_path, monkeypatch):
    """If the ES query fails to start, ``start`` stops the four sink
    queries before it raises: none is left running without a job."""

    def failing_start(*args):
        raise RuntimeError("ES query did not start")

    monkeypatch.setattr(job_mod, "start_query", failing_start)
    src = tmp_path / "in"
    src.mkdir()
    with pytest.raises(RuntimeError, match="ES query did not start"):
        job_mod.start(
            [
                "--source", "file",
                "--input-path", str(src),
                "--jdbc-url", f"duckdb://{tmp_path / 'job.duckdb'}",
                "--checkpoint", str(tmp_path / "ck"),
                "--enable-es", "--es-url", "http://localhost:9",
            ]
        )
    assert spark.streams.active == []


def _write_input(spark, path, n_rows, seed):
    df = generator.transactions(spark, n_rows=n_rows, seed=seed)
    generator.transactions_as_json(df).coalesce(2).write.mode("overwrite").text(path)


def _run_cli(args):
    """``job.start`` drained and stopped; the queries, for their progress."""
    job = job_mod.start(args)
    try:
        job.process_available()
        assert [q.name for q in job.queries if q.exception() is not None] == []
    finally:
        job.stop()
    return job.queries


def _tables(db):
    import duckdb

    con = duckdb.connect(db)
    try:
        return {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
            for t in ("transactions", "sales_per_category", "sales_per_day",
                      "sales_per_month")
        }
    finally:
        con.close()


def test_restart_replays_uncommitted_epoch_without_adding_twice(spark, tmp_path):
    """The sink commits an epoch's sums, then Spark fails before its own
    commit log: on restart Spark runs that epoch again. Deleting the
    last ``commits/<n>`` of ``sales_per_day`` makes that happen; the
    epoch ledger turns the replay into a no-op, so every table is
    unchanged (without it, the day sums would double)."""
    src, db, ck = str(tmp_path / "in"), str(tmp_path / "job.duckdb"), tmp_path / "ck"
    _write_input(spark, src, 300, 53)
    args = ["--source", "file", "--input-path", src,
            "--jdbc-url", f"duckdb://{db}", "--checkpoint", str(ck)]
    _run_cli(args)
    before = _tables(db)

    commits = ck / "sales_per_day" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    queries = _run_cli(args)

    day = next(q for q in queries if q.name == "sales_per_day")
    replayed = [p for p in day.recentProgress if p.batchId == last]
    assert replayed and replayed[0].numInputRows > 0, "Spark did not re-run the epoch"
    assert _tables(db) == before


def test_new_checkpoint_epoch_zero_is_added(spark, tmp_path):
    """A second query on a new checkpoint has a new query id, so its
    epoch 0 is added to the sums the first query left, not skipped as
    a replay of the first query's epoch 0."""
    import duckdb

    from flink_ecommerce_spark.sources.kafka import parse_transactions

    db = str(tmp_path / "job.duckdb")
    inputs = [str(tmp_path / "in1"), str(tmp_path / "in2")]
    for i, (src, seed) in enumerate(zip(inputs, (59, 61))):
        _write_input(spark, src, 200, seed)
        _run_cli(["--source", "file", "--input-path", src,
                  "--jdbc-url", f"duckdb://{db}",
                  "--checkpoint", str(tmp_path / f"ck{i}")])

    both = parse_transactions(spark.read.text(inputs))
    want = {
        r["transaction_date"]: r["total_sales_cents"] / 100
        for r in sales.sales_per_day_cents(both).collect()
    }
    con = duckdb.connect(db)
    got = dict(con.execute("SELECT transaction_date, total_sales FROM sales_per_day").fetchall())
    epochs = con.execute(
        "SELECT count(DISTINCT query_id), max(epoch) FROM _sink_epochs "
        "WHERE sink = 'sales_per_day'"
    ).fetchone()
    con.close()
    assert got == want
    assert epochs == (2, 0)


def test_main_blocks_until_any_query_fails(spark, tmp_path):
    """``main`` blocks while the job runs, as the reference's
    ``env.execute()`` does, and returns only when a query ends: when
    any one query fails, not only the first, the failure is raised and
    the other queries are stopped. ``sales_per_month`` (not the first
    query) is made to fail by a CHECK its first batch violates; the job
    runs in a thread, bounded by a join timeout."""
    import threading

    import duckdb

    src, db = str(tmp_path / "in"), str(tmp_path / "job.duckdb")
    _write_input(spark, src, 20, 67)
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE sales_per_month (year INTEGER, month INTEGER, "
        "total_sales DOUBLE CHECK (total_sales < 0), PRIMARY KEY (year, month))"
    )
    con.close()

    outcome = {}

    def run():
        try:
            job_mod.main(["--source", "file", "--input-path", src,
                          "--jdbc-url", f"duckdb://{db}",
                          "--checkpoint", str(tmp_path / "ck")])
            outcome["returned"] = True
        except Exception as e:  # the failure main must raise
            outcome["raised"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        t.join(timeout=120)
        ended = not t.is_alive()
        still_active = [q.name for q in spark.streams.active]
    finally:
        for q in spark.streams.active:
            q.stop()
        t.join(timeout=60)
    assert ended, "main kept blocking after sales_per_month failed"
    assert "sales_per_month" in str(outcome.get("raised")), outcome
    assert still_active == []


def test_session_driver_heap_fits_host(spark):
    """get_spark sizes its default heap from the host, so the test
    session never asks for more memory than the machine has."""
    import os

    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    unit = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    heap = int(mem[:-1]) * unit[mem[-1].lower()]
    assert heap <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


# Package names that no caller runs but that stay, each with its reason.
TEST_ONLY_NAMES = {
    "__version__": "the package's version string",
    "catalog.schema_violations": "the contract check of the fixture schemas",
    "schemas.EVENTS_SCHEMA": "a fixture schema the tests build frames with",
    "schemas.DOCUMENTS_SCHEMA": "a fixture schema the tests build frames with",
    "schemas.EMBEDDINGS_SCHEMA": "a fixture schema the tests build frames with",
    "typed_check.typed_mismatches": "the typed oracle check itself",
    "streaming.sinks.MemoryUpsertSink": "the tests' reference sink",
    "operators.retrieval.phrase_scan": "the reference phrase_search is compared against",
    "operators.text.curated_corpus": "the legacy twin its integer query is compared against",
    "operators.text.repetition_scores": "the legacy twin its integer query is compared against",
    "operators.classifier.nb_train": "half of the split nb_lang_scores is compared against",
    "operators.classifier.nb_classify": "half of the split nb_lang_scores is compared against",
    "operators.similarity.ann_plan_for": "the strategy choice of the ANN recall gate",
    "operators.dedup.substr_dedup_spans": "test seam onto step 1 of documents_substr_deduped",
    "operators.dedup.remove_spans": "test seam onto step 2 of documents_substr_deduped",
    "registry.bench_queries": "named by perfbench/README.md",
}


def test_package_holds_only_what_a_caller_imports():
    """Every module in the package is reachable, function-level imports
    included, from one of the five callers that run it: the job, the
    query CLI, the typed oracle check, the benchmark and the driver
    contract (all registry queries). A module that only tests reach
    does not belong in the package. ModuleFinder compiles and scans
    the sources without running them, and the search path holds only
    this repository, so no third-party package is read.

    Within those modules, every top-level name is referenced (as a
    name, an attribute or an import) from the package, perfbench or
    ``__spark_entry__.py`` outside its own definition, unless
    ``TEST_ONLY_NAMES`` gives the reason it stays. One pass: a name
    that only an unreferenced name uses still counts as referenced."""
    import ast
    from collections import defaultdict
    from modulefinder import ModuleFinder

    pkg_dir = Path(job_mod.__file__).parent
    root, pkg = pkg_dir.parent, pkg_dir.name
    finder = ModuleFinder(path=[str(root)])
    for caller in (f"{pkg}.job", f"{pkg}.run", f"{pkg}.typed_check",
                   "perfbench.run", "__spark_entry__"):
        finder.import_hook(caller)
    modules = {
        ".".join(p.relative_to(root).with_suffix("").parts).removesuffix(".__init__"): p
        for p in pkg_dir.rglob("*.py")
    }
    orphans = sorted(set(modules) - set(finder.modules))
    assert not orphans, f"reachable from no caller: {orphans}"

    sources = [*pkg_dir.rglob("*.py"), *(root / "perfbench").glob("*.py"),
               root / "__spark_entry__.py"]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in sources}
    uses = defaultdict(list)  # name -> [(file, line)]
    for p, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.alias):
                names = [node.name.rpartition(".")[2], node.asname]
            else:
                continue
            for name in names:
                uses[name].append((p, node.lineno))
    defined, unused = set(), []
    for mod in sorted(set(modules) & set(finder.modules)):
        p = modules[mod]
        for st in trees[p].body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            first = min([st.lineno] + [d.lineno for d in getattr(st, "decorator_list", [])])
            for name in names:
                qual = f"{mod}.{name}".removeprefix(f"{pkg}.")
                defined.add(qual)
                if qual in TEST_ONLY_NAMES or any(
                    q != p or not first <= line <= st.end_lineno for q, line in uses[name]
                ):
                    continue
                unused.append(qual)
    assert not unused, f"referenced by no caller's code: {unused}"
    stale = sorted(set(TEST_ONLY_NAMES) - defined)
    assert not stale, f"TEST_ONLY_NAMES entries with no definition: {stale}"


def test_every_default_parameter_is_set_somewhere():
    """Every defaulted parameter of a package function is an option
    some code uses: a call passes it, by position or by keyword, from
    the package, perfbench, ``__spark_entry__.py``, ``tools/`` or the
    tests. A parameter no call sets has one value in use, so it is a
    constant in the body, not a parameter.

    Calls are matched by name (``f(..)``, ``x.f(..)``, an import alias
    of ``f``, and a class name for its ``__init__``); a function used
    as a value, or called with ``*args``/``**kwargs``, counts as having
    every parameter set. An argument that only forwards an unset
    parameter of the calling function, with the same default, sets
    nothing, so the pass repeats until the unset set stops growing."""
    import ast
    from collections import defaultdict

    pkg_dir = Path(job_mod.__file__).parent
    root = pkg_dir.parent
    files = [*pkg_dir.rglob("*.py"), *(root / "perfbench").rglob("*.py"),
             root / "__spark_entry__.py", *(root / "tools").rglob("*.py"),
             *(root / "tests").rglob("*.py")]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}

    defs = {}  # def node -> (name, {param: default}, params a call fills by position)
    by_name = defaultdict(list)

    def collect(node, prefix, in_class):
        for st in ast.iter_child_nodes(node):
            if isinstance(st, ast.ClassDef):
                collect(st, f"{prefix}{st.name}.", True)
            elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = st.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                kw = zip(a.kwonlyargs, a.kw_defaults)
                dflt.update((x.arg, d) for x, d in kw if d is not None)
                defs[st] = (f"{prefix}{st.name}", dflt, pos[1:] if in_class else pos)
                by_name[st.name].append(st)
                if in_class and st.name == "__init__":
                    by_name[prefix.rstrip(".").rpartition(".")[2]].append(st)
                collect(st, f"{prefix}{st.name}.", False)
            else:
                collect(st, prefix, in_class)

    for p in pkg_dir.rglob("*.py"):
        mod = ".".join(p.relative_to(pkg_dir).with_suffix("").parts)
        collect(trees[p], f"{mod}.", False)

    def walk(node, fn=None):
        for child in ast.iter_child_nodes(node):
            yield child, node, fn
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            yield from walk(child, child if inner else fn)

    def called(node, alias):
        if isinstance(node, ast.Name):
            return alias.get(node.id, node.id)
        return getattr(node, "attr", None)

    unset: set = set()
    while True:
        set_params, whole = set(), set()
        for tree in trees.values():
            alias = {a.asname: a.name for n in ast.walk(tree)
                     if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
            for n, parent, fn in walk(tree):
                if isinstance(n, ast.Call):
                    targets = by_name.get(called(n.func, alias), [])
                    if any(isinstance(a, ast.Starred) for a in n.args) or any(
                            k.arg is None for k in n.keywords):
                        whole.update(targets)
                        continue
                    for d in targets:
                        _, dflt, pos = defs[d]
                        kws = [(k.arg, k.value) for k in n.keywords]
                        for prm, v in [*zip(pos, n.args), *kws]:
                            if prm not in dflt:
                                continue
                            forwarded = (
                                isinstance(v, ast.Name) and (fn, v.id) in unset
                                and ast.dump(defs[fn][1][v.id]) == ast.dump(dflt[prm]))
                            if not forwarded:
                                set_params.add((d, prm))
                elif isinstance(n, (ast.Name, ast.Attribute)) and isinstance(
                        n.ctx, ast.Load):
                    # a function used as a value: any caller may set anything
                    if isinstance(parent, ast.Attribute) or (
                            isinstance(parent, ast.Call) and parent.func is n):
                        continue
                    whole.update(by_name.get(called(n, alias), []))
        now = {(d, prm) for d, (_, dflt, _) in defs.items() if d not in whole
               for prm in dflt if (d, prm) not in set_params}
        if now == unset:
            break
        unset = now
    found = sorted(f"{defs[d][0]}({prm})" for d, prm in unset)
    assert not found, f"defaulted parameters that no call sets: {found}"
