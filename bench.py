"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as a full collect() (plan + execute + fetch), the
same work the driver's correctness gate does. A tiny warmup query
first so JVM/codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import socket
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from flink_ecommerce_spark import registry  # noqa: E402
from flink_ecommerce_spark.session import get_spark  # noqa: E402


def _sustained_rate(queries) -> float:
    """Steady-state events/s from the engines' own batch progress:
    rows/duration summed over every batch AFTER each query's first
    (the first batch carries stream-start costs). Uses the slowest
    query — all branches must sustain the rate for the job to."""
    rates = []
    for q in queries:
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(prog) > 1:
            prog = prog[1:]
        rows = sum(p["numInputRows"] for p in prog)
        secs = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000.0
        if rows and secs:
            rates.append(rows / secs)
    return min(rates) if rates else 0.0


def _streaming_curation_bench(spark, sf_dir: str, metrics: dict) -> None:
    """Ingest-side curation throughput: the Gopher rule battery as a
    streaming filter over a replicated documents corpus (the
    batch-certified expressions running unchanged on a stream —
    tests/test_shards_semdedup.py proves value equality; this
    measures the rate). The corpus is staged as multiple files and
    read with maxFilesPerTrigger, so the run has real micro-batches;
    the sustained rate comes from steady-state batch progress."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import gopher_quality_flags

    replicas = int(os.environ.get("SPARK_GRAFT_CURATION_REPLICAS", "10"))
    n_files = 16
    docs = catalog.table(spark, sf_dir, "documents")
    n0 = docs.count()
    rep = spark.range(replicas).select(F.col("id").alias("__rep"))
    stage = tempfile.mkdtemp(prefix="bench_curation_in_")
    (
        docs.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") + F.col("__rep") * (n0 + 1)).alias("doc_id"),
            "text",
            "source",
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(stage)
    )
    n = n0 * replicas
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "4")
        .parquet(stage)
    )
    out = gopher_quality_flags(stream).filter("keep")
    t0 = time.perf_counter()
    q = (
        out.writeStream.outputMode("append")
        .format("noop")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="bench_cur_ckpt_")
        )
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    sustained = _sustained_rate([q])
    q.stop()
    metrics["curation_docs_per_sec"] = round(n / wall)
    metrics["curation_sustained_docs_per_sec"] = round(sustained)
    print(
        f"streaming curation: {n} docs in {wall:.1f}s = "
        f"{n / wall:,.0f} docs/s end-to-end, {sustained:,.0f} docs/s sustained",
        file=sys.stderr,
    )


def _ann_band_bench(
    spark, sf_dir: str, timings: dict[str, float], reps: int
) -> list[dict]:
    """lsh_plan_for's cost/recall tradeoff with wall-clock numbers:
    time ann_lsh_topk at the test-scale plan (8 planes, 1 band) and
    the scale plan (16 planes, 4 bands), and print recall@k of each
    against the exact brute-force top-k. More planes → smaller
    buckets (cheaper candidate sets at large corpora); more bands →
    independent bucketings whose candidates union (recall back).

    Returns the full grid as machine-readable rows (persisted under
    ``ann_grid`` in the bench JSON so planner dominance — fastest AND
    highest-recall row — is checkable from the artifact, not just
    from truncated stderr)."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators import similarity

    emb = catalog.table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    truth: dict[int, set[int]] = {}
    t0 = time.perf_counter()
    for r in similarity.knn_bruteforce(emb).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    bf_sec = time.perf_counter() - t0
    # grid so the two knobs read separately: planes = bucket size
    # (cost), bands = independent bucketings unioned (recall). The
    # (16, *) rows are the large-corpus plan — at THIS corpus size
    # they cost more and recall less, which is exactly why
    # lsh_plan_for sizes planes from corpus/target occupancy; its
    # recommendation for this corpus runs as the last row.
    plan = similarity.lsh_plan_for(emb.count())
    grid: list[dict] = []
    for planes, bands in (
        (similarity.N_PLANES, 1),
        (similarity.N_PLANES, 4),
        (16, 1),
        (16, 4),
        plan,
    ):
        name = f"ann_lsh_{planes}p_{bands}b"
        best, rows = float("inf"), []
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = similarity.ann_lsh_topk(
                emb, n_planes=planes, n_bands=bands
            ).collect()
            best = min(best, time.perf_counter() - t0)
        # the full grid prints to stderr; the JSON records only the
        # oracle config and lsh_plan_for's recommendation — the other
        # rows are deliberately mis-sized teaching points and would
        # pollute the headline total
        if (planes, bands) in ((similarity.N_PLANES, 1), plan):
            timings[name] = round(best, 3)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [
            len(got.get(q, set()) & nbrs) / len(nbrs)
            for q, nbrs in truth.items()
            if nbrs
        ]
        recall = sum(recalls) / len(recalls) if recalls else 0.0
        grid.append(
            {
                "planes": planes,
                "bands": bands,
                "sec": round(best, 3),
                f"recall_at_{similarity.DEFAULT_K}": round(recall, 3),
                "planned": (planes, bands) == plan,
            }
        )
        print(
            f"{name}: {best:.3f}s, recall@{similarity.DEFAULT_K} = {recall:.3f}",
            file=sys.stderr,
        )

    # strategy rows: the grid above sweeps LSH knobs; these are the
    # other strategies ann_plan_for chooses between. recall is against
    # the same brute-force truth (bruteforce row = 1.0 by definition —
    # its timing shows what "exact" costs at this corpus).
    def _recall_of(rows):
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rc = [
            len(got.get(q, set()) & nbrs) / len(nbrs)
            for q, nbrs in truth.items()
            if nbrs
        ]
        return sum(rc) / len(rc) if rc else 0.0

    plan_rec = similarity.ann_plan_for(n_corpus)
    strat_rows = [("bruteforce", bf_sec, 1.0)]
    for sname, fn in (
        ("lsh_multiprobe", similarity.ann_lsh_multiprobe),
        ("pq_rerank", similarity.pq_ann_rerank),
    ):
        best, rows = float("inf"), []
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = fn(emb).collect()
            best = min(best, time.perf_counter() - t0)
        strat_rows.append((sname, best, _recall_of(rows)))
    for sname, sec, rec in strat_rows:
        row = {
            "strategy": sname,
            "sec": round(sec, 3),
            f"recall_at_{similarity.DEFAULT_K}": round(rec, 3),
            "recommended": sname == plan_rec["strategy"],
        }
        grid.append(row)
        print(
            f"ann strategy {sname}: {sec:.3f}s, recall = {rec:.3f}"
            + (" [recommended]" if row["recommended"] else ""),
            file=sys.stderr,
        )
    # RECALL GATE (VERDICT r05 #4): BASELINE.md requires the planner's
    # recommendation to measure recall@k >= 0.9 within budget — and so
    # must the ABOVE-CROSSOVER strategy (pq_rerank), since that is
    # what a 100 TB corpus would actually get. Fail the bench, not the
    # narrative.
    by_name = {r["strategy"]: r for r in grid if "strategy" in r}
    rec_key = f"recall_at_{similarity.DEFAULT_K}"
    for must in ("pq_rerank",):
        got = by_name.get(must, {}).get(rec_key, 0.0)
        if got < 0.9:
            raise SystemExit(
                f"ANN recall gate: {must} measured {rec_key}={got} < 0.9 "
                "(the above-crossover recommendation must clear the "
                "BASELINE.md bar — widen the PQ shortlist/codebook)"
            )
    rec_row = next((r for r in grid if r.get("recommended")), None)
    if rec_row is not None and rec_row.get(rec_key, 0.0) < 0.9:
        raise SystemExit(
            f"ANN recall gate: recommended strategy "
            f"{rec_row['strategy']} measured {rec_key}="
            f"{rec_row.get(rec_key)} < 0.9"
        )
    return grid


def _scale_rehearsal(spark, sf_dir: str) -> dict:
    """One order of magnitude past the bench fixture: replicate the
    sf0.1 documents/embeddings tables 10× (id-remapped — ≈ sf1) into
    a temp dir and run the dedup → curation → packing chain on it.
    Records wall times under a separate key in the bench JSON and the
    plan-for-scale knobs' recommendations at BOTH corpus sizes — the
    planners must actually move with the data (lsh_plan_for sizes
    planes from corpus/occupancy; simhash_plan_for widens bands)."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators import dedup, packing, similarity, text

    reps = int(os.environ.get("SPARK_GRAFT_REHEARSAL_REPS", "10"))
    stage = tempfile.mkdtemp(prefix="bench_rehearsal_")

    docs01 = catalog.table(spark, sf_dir, "documents")
    n_docs01 = docs01.count()
    rep = spark.range(reps).select(F.col("id").alias("__rep"))
    (
        docs01.crossJoin(F.broadcast(rep))
        .select(
            (F.col("doc_id") + F.col("__rep") * (n_docs01 + 1)).alias("doc_id"),
            # suffix the text per replica so the 10x corpus isn't 90%
            # exact duplicates (that would collapse, not scale, the
            # similarity work)
            F.concat("text", F.lit(" r"), F.col("__rep")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{stage}/documents.parquet")
    )
    emb01 = catalog.table(spark, sf_dir, "embeddings")
    n_vec01 = emb01.count()
    (
        emb01.crossJoin(F.broadcast(rep))
        .select(
            (F.col("vec_id") + F.col("__rep") * (n_vec01 + 1)).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{stage}/embeddings.parquet")
    )

    # r05: the r04 operator families' scale claims get measured, not
    # just argued (VERDICT r04 #7) — the graph ops need orders +
    # lineitem, the portable HLL needs events. EVERY key space is
    # remapped per replica, so the 10x graph is 10 disjoint copies
    # (structure scales) and the 10x events have 10x distinct users
    # (cardinality scales), not 10x edge/event multiplicity.
    def _replicate(name, id_cols):
        t01 = catalog.table(spark, sf_dir, name)
        ms = t01.agg(
            *[F.max(c).alias(c) for c in id_cols]
        ).collect()[0]
        out = t01.crossJoin(F.broadcast(rep)).select(
            *[
                (
                    (F.col(c) + F.col("__rep") * (ms[c] + 1)).cast(
                        t01.schema[c].dataType
                    ).alias(c)
                    if c in id_cols
                    else F.col(c)
                )
                for c in t01.columns
            ]
        )
        out.repartition(32).write.mode("overwrite").parquet(
            f"{stage}/{name}.parquet"
        )

    _replicate("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"])
    _replicate("orders", ["o_orderkey", "o_custkey"])
    _replicate("events", ["event_id", "user_id"])

    docs = catalog.table(spark, stage, "documents")
    emb = catalog.table(spark, stage, "embeddings")
    n_docs = n_docs01 * reps
    chain: dict[str, float] = {}

    # r09 measurement fixes (documented in OPTIMIZATION_r09.md):
    # (a) thunks that previously timed df.count() now time a noop
    #     write — count() lets Catalyst prune subtrees that don't
    #     affect the row count (guide §1.4): semantic_dedup's
    #     within-cell pair join was join-eliminated (3.8 s measured
    #     vs 35.8 s honest) and winnowing's sliding-min was pruned
    #     outright. The noop sink computes every column of every row,
    #     the same work the driver's oracle gate does.
    # (b) each entry is min-of-N (default 2): this host shows
    #     multi-second kernel/steal storms (sys% up to 62) that made
    #     single-shot rehearsal numbers swing 10-20x on unchanged
    #     plans; the canary flags the window, min-of-N damps it.
    # (c) gc.collect() between entries releases py4j references so
    #     the ContextCleaner can unpersist dropped localCheckpoint
    #     blocks instead of letting them squeeze execution memory.
    import gc

    # clamp: 0/negative would leave best=inf and OverflowError at
    # round() (r09 ADVICE) — a misconfigured env var must not kill
    # the rehearsal
    q_reps = max(
        1, int(os.environ.get("SPARK_GRAFT_REHEARSAL_QUERY_REPS", "2"))
    )

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, thunk):
        best = float("inf")
        for _ in range(q_reps):
            t0 = time.perf_counter()
            thunk()
            best = min(best, time.perf_counter() - t0)
            gc.collect()
        chain[name] = round(best, 3)
        print(f"rehearsal {name}: {chain[name]}s", file=sys.stderr)

    from flink_ecommerce_spark.operators import sketch as _sk

    timed("dedup_exact", lambda: _noop(dedup.dedup_exact(docs)))
    # the bounded-state sketches: wall time must stay flat-ish with
    # corpus size because the shuffle is capped at the sketch size
    timed("bloom_bits", lambda: _noop(_sk.bloom_bits(docs)))
    timed("countmin_sketch", lambda: _noop(_sk.countmin_sketch(docs)))
    timed("minhash_signatures", lambda: _noop(dedup.minhash_signatures(docs)))
    timed("lsh_candidate_pairs", lambda: _noop(dedup.lsh_candidate_pairs(docs)))
    timed("dedup_clusters", lambda: _noop(dedup.dedup_clusters(docs)))
    timed("shingle_novelty", lambda: _noop(dedup.shingle_novelty(docs)))
    timed("budgeted_mixture", lambda: _noop(text.budgeted_mixture(docs)))
    timed("corpus_funnel", lambda: _noop(text.corpus_funnel(docs)))
    timed("sequence_packing", lambda: _noop(packing.sequence_packing(docs)))
    timed("unigram_surprisal", lambda: _noop(text.unigram_surprisal(docs)))
    n_labels = emb.select("label").distinct().count()
    sd_bits = similarity.semdedup_bits_for(n_vec01 * reps, n_labels)
    timed(
        f"semantic_dedup_{sd_bits}bits",
        lambda: _noop(similarity.semantic_dedup(emb, extra_bits=sd_bits)),
    )
    plan01 = similarity.lsh_plan_for(n_vec01)
    plan10 = similarity.lsh_plan_for(n_vec01 * reps)
    sim01 = dedup.simhash_plan_for(n_docs01)
    sim10 = dedup.simhash_plan_for(n_docs)
    timed(
        "ann_lsh_topk_planned",
        lambda: _noop(similarity.ann_lsh_topk(
            emb, n_planes=plan10[0], n_bands=plan10[1]
        )),
    )
    timed("pq_ann_topk", lambda: _noop(similarity.pq_ann_topk(emb)))
    from flink_ecommerce_spark.operators import classifier

    timed("nb_lang_scores", lambda: _noop(classifier.nb_lang_scores(docs)))
    timed(
        "incremental_fuzzy_dedup",
        # daily-batch shape at 10x: replica 0 arrives as the new
        # batch against the other replicas as history
        lambda: _noop(dedup.incremental_fuzzy_dedup(
            docs.filter(F.col("doc_id") <= n_docs01),
            docs.filter(F.col("doc_id") > n_docs01),
        )),
    )
    # r04 families at 10x (VERDICT r04 #7): lossless prefix-filter
    # dedup, both graph ops on the disjointly-replicated graph, and
    # the portable HLL over 10x distinct users
    from flink_ecommerce_spark import registry as _registry

    # exact-pairs crossover (VERDICT r05 #5): the planner — not the
    # bench author — decides whether the 10x corpus still gets the
    # lossless prefix-filter join. At 50k docs it does NOT (measured
    # 95.5 s in r05, ~80% of the stage budget, exponent ~1.5): the
    # enforced strategy is lsh_candidate_pairs + the recall meter,
    # both timed above/below. prefix_jaccard stays the sub-crossover
    # answer and keeps its sf0.1 headline timing.
    ep_plan10 = dedup.exact_pairs_plan_for(n_docs)
    recall_row: dict = {}
    if ep_plan10["strategy"] == "prefix_jaccard":
        timed(
            "prefix_jaccard_pairs",
            lambda: _noop(dedup.prefix_jaccard_pairs(docs)),
        )
    else:
        # above the crossover the meter is the SAMPLED one (VERDICT
        # r06 #5): exact truth over 1-in-mod docs keeps the meter's
        # super-linear branch inside a fixed budget while the LSH
        # path it meters stays linear. The report row (recall
        # estimate + its evidence count) lands in the bench JSON.
        mod = ep_plan10["meter_sample_mod"]

        def _run_sampled_meter():
            row = (
                dedup.lsh_recall_sampled(docs, sample_mod=mod)
                .collect()[0]
                .asDict()
            )
            recall_row.update(row)

        timed("lsh_recall_sampled", _run_sampled_meter)
    timed(
        "supplier_pagerank",
        lambda: _noop(_registry.SPECS["supplier_pagerank"].fn(spark, stage)),
    )
    timed(
        "copurchase_graph_stats",
        lambda: _noop(
            _registry.SPECS["copurchase_graph_stats"].fn(spark, stage)
        ),
    )
    timed(
        "hll_distinct_users",
        lambda: _noop(_registry.SPECS["hll_distinct_users"].fn(spark, stage)),
    )
    # r06 (VERDICT r05 #7): the KMV family and Kneser-Ney measured at
    # 10x BEFORE their certification lands — KMV must stay ~flat (the
    # shuffle is capped at k rows by TakeOrderedAndProject); KN is
    # aggregate-shaped like nb_lang_scores.
    ev10 = catalog.table(spark, stage, "events")
    timed(
        "kmv_value_quantiles",
        lambda: _noop(_sk.kmv_value_quantiles(ev10)),
    )
    timed(
        "kmv_value_quantiles_by_type",
        lambda: _noop(_sk.kmv_value_quantiles_by_type(ev10)),
    )
    timed(
        "kn_bigram_surprisal",
        lambda: _noop(text.kn_bigram_surprisal(docs)),
    )
    # r06 additions measured at 10x on arrival: the line family's
    # MIN-struct anti-skew claim and waterfill's tiny-global windows
    # must show flat-ish/linear curves here before certification
    timed(
        # noop, never count(): the final doc-preserving left join has
        # a unique build key, so Catalyst ELIMINATES it (and the
        # whole dedup) under a bare count()
        "line_dedup",
        lambda: _noop(text.line_dedup(docs)),
    )
    timed(
        "boilerplate_shingles",
        lambda: _noop(text.boilerplate_shingles(docs)),
    )
    from flink_ecommerce_spark.operators import sampling as _samp

    timed(
        "token_waterfill",
        lambda: _noop(_samp.token_waterfill(docs)),
    )
    timed(
        "quality_ks_by_source",
        lambda: _noop(text.quality_ks_by_source(docs)),
    )
    timed(
        # noop: same unique-key left-join elimination under count()
        "strip_boilerplate",
        lambda: _noop(text.strip_boilerplate(docs)),
    )
    # r07 additions measured at 10x on arrival: the precision meter
    # must track lsh_candidate_pairs' verify-stage curve (its cost
    # bound), calibration must stay aggregate-shaped like
    # nb_lang_scores, and the CF neighbors ride the basket-bounded
    # join + per-part window.
    timed(
        "lsh_candidate_precision",
        lambda: dedup.lsh_candidate_precision(docs).collect(),
    )
    timed(
        "classifier_calibration",
        lambda: classifier.calibration_by_margin(docs).collect(),
    )
    timed(
        "item_neighbors_topk",
        lambda: _noop(_registry.SPECS["item_neighbors_topk"].fn(spark, stage)),
    )
    timed(
        "dp_source_counts",
        lambda: text.dp_source_counts(docs).collect(),
    )
    from flink_ecommerce_spark.plans import temporal as _temporal

    timed(
        "markov_attribution",
        lambda: _temporal.markov_attribution(ev10).collect(),
    )
    from flink_ecommerce_spark.operators import retrieval as _retr

    timed(
        "retrieval_eval",
        lambda: _retr.retrieval_eval(docs).collect(),
    )
    timed(
        "winnowing_fingerprints",
        lambda: _noop(dedup.winnowing_fingerprints(docs)),
    )
    # r08 additions measured at 10x on arrival: epoch_shuffle's
    # bucket-decomposed rank must stay ~linear (no global sort to
    # collapse), trigram KN rides the same aggregate shapes as the
    # bigram, and the silhouette meter is one scan over 10x vectors
    # against the same k literal centroids.
    timed(
        "epoch_shuffle",
        lambda: _noop(packing.epoch_shuffle(docs)),
    )
    timed(
        "kn_trigram_surprisal",
        lambda: _noop(text.kn_trigram_surprisal(docs)),
    )
    from flink_ecommerce_spark.operators import clustering as _clus

    timed(
        "cluster_silhouette",
        lambda: _clus.cluster_silhouette(emb).collect(),
    )
    print(
        f"rehearsal planners: lsh {plan01} -> {plan10}, "
        f"simhash {sim01} -> {sim10}",
        file=sys.stderr,
    )
    return {
        "corpus": f"{reps}x sf0.1 (id-remapped, per-replica salted)",
        # measurement provenance (r09): noop sink computes every
        # column (count() let Catalyst prune expensive subtrees —
        # semantic_dedup read 3.8s for 35.8s of honest work);
        # min-of-N damps this host's kernel/steal storms. Earlier
        # rounds' entries were single-shot count()/collect().
        "method": f"noop-or-collect, min-of-{q_reps}",
        "n_docs": n_docs,
        "queries": chain,
        "planner": {
            "semdedup_bits_sf0.1": similarity.semdedup_bits_for(n_vec01, n_labels),
            "semdedup_bits_rehearsal": sd_bits,
            "lsh_sf0.1": list(plan01),
            "lsh_rehearsal": list(plan10),
            "simhash_sf0.1": list(sim01),
            "simhash_rehearsal": list(sim10),
            "exact_pairs_sf0.1": dedup.exact_pairs_plan_for(n_docs01)[
                "strategy"
            ],
            "exact_pairs_rehearsal": ep_plan10["strategy"],
            "exact_pairs_crossover_docs": ep_plan10["crossover"],
            "loss_meter": ep_plan10["loss_meter"],
            "meter_sample_mod": ep_plan10["meter_sample_mod"],
        },
        "recall_sampled": recall_row,
    }


def _probe_loop(_arg: int = 0) -> int:
    """The fixed probe workload (module-level so ProcessPool can
    pickle it)."""
    s = 0
    for i in range(20_000_000):
        s += i
    return s


def _cpu_probe() -> float:
    """Machine-speed canary: a fixed single-thread pure-Python loop,
    timed. Two rounds of cross-machine bench confusion (r05's
    "prefix_jaccard +48%", this round's 5× VM slowdown measured
    mid-session: the same loop read 5.8 s against a ~1.2 s norm while
    identical Spark plans ran 5-10× their usual wall) motivated
    carrying the machine's speed IN the bench artifact: compare two
    BENCH_r*.json files by queries/probe ratios, not raw seconds,
    and a slow probe says "slow host", not "regression"."""
    t0 = time.perf_counter()
    assert _probe_loop() == 199999990000000  # keep un-optimizable
    return round(time.perf_counter() - t0, 3)


def _cpu_probe_parallel() -> float:
    """Contended-host canary (VERDICT r07 #2): the r07 driver host ran
    every Spark wall 2–50× slow while the single-thread probe read
    0.722 s — FAST — because one idle core is enough to make a serial
    loop look healthy. This probe runs the SAME loop on min(8, cpus)
    PROCESSES simultaneously (processes, not threads — the GIL would
    serialize threads and measure nothing): on an idle multi-core
    host the wall ≈ the single-thread time; under multi-core
    contention it rises toward n× — exactly the signal the serial
    probe is blind to."""
    import concurrent.futures

    n = min(8, os.cpu_count() or 8)
    t0 = time.perf_counter()
    with concurrent.futures.ProcessPoolExecutor(n) as ex:
        results = list(ex.map(_probe_loop, range(n)))
    assert all(r == 199999990000000 for r in results)
    return round(time.perf_counter() - t0, 3)


def _cpu_window_snapshot() -> list[int] | None:
    """/proc/stat cumulative jiffies — sampled at bench start and end
    so the WINDOW percentages below cover the entire run. The
    end-of-run probes measure a moment; a noisy neighbor that stole
    cycles mid-run and left is invisible to them (observed r08: every
    unchanged plan 1.2-9x slow while the end probes read healthy).
    Steal% over the window is the direct measurement of that theft."""
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except OSError:  # non-Linux fallback
        return None


def _cpu_window_pcts(start: list[int] | None, end: list[int] | None) -> dict:
    if not start or not end:
        return {}
    d = [b - a for a, b in zip(start, end)]
    tot = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal guest gnice
    return {
        "window_steal_pct": round(d[7] / tot * 100, 2),
        "window_idle_pct": round(d[3] / tot * 100, 2),
        "window_iowait_pct": round(d[4] / tot * 100, 2),
    }


def _spark_probe(spark) -> float:
    """Fixed tiny Spark job, min-of-3 after warmup (VERDICT r07 #2):
    a 50M-row range → 32-key groupBy exercises codegen, shuffle and
    the JVM thread pool on every core — the probe whose slowdown
    tracks the same contention the real queries feel. Compare rounds
    on queries/spark_probe ratios; a slow probe says "slow host",
    not "regression"."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(50_000_000)
            .selectExpr("id % 32 AS k")
            .groupBy("k")
            .count()
            .collect()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # warmup: JVM, codegen, and the parquet reader path off the clock
    spark.range(1000).selectExpr("sum(id)").collect()
    from flink_ecommerce_spark import catalog

    catalog.table(spark, sf_dir, "events").limit(10).collect()

    # min-of-N: local single-JVM timings swing ±25% on GC/codegen
    # hiccups; five reps keeps the recorded number close to the
    # plan's true cost (round-over-round comparisons read these
    # numbers name-for-name, so minimum stability matters more than
    # the ~30s extra wall)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    stat_start = _cpu_window_snapshot()
    probe_spark_before = _spark_probe(spark)
    timings: dict[str, float] = {}
    # Sorted by name, NOT registry order: SPECS order follows the
    # verification rotation (_VERIFY_FIRST changes every round), so
    # registry-order benching gives each query different JVM/GC
    # neighbors each round — r04's sequence_packing "3.9x regression"
    # was exactly this (0.37s standalone, 2.0s after the similarity
    # family's broadcasts). A stable order keeps round-over-round
    # numbers comparable name-for-name.
    import gc

    for name, fn in sorted(registry.bench_queries().items()):
        best = float("inf")
        try:
            for _ in range(reps):  # min-of-N damps JVM/GC noise
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as e:  # one broken query must not lose the run
            print(f"bench query {name} FAILED: {e}", file=sys.stderr)
        # release py4j refs so the ContextCleaner can unpersist this
        # query's dropped localCheckpoint blocks before the next one
        # runs (r09: leftover blocks squeezed execution memory and
        # made later phases spill/swing on unchanged plans)
        gc.collect()

    # mid-window probe (VERDICT r08 #2): a single end-of-run probe
    # coexisted with a contended window in r08 (steal 4.4% while the
    # instant read 0.255 s — FASTER than clean) and overstated the
    # normalized slowdown ~3×; the median of before/mid/after probes
    # samples the same window the queries ran in.
    probe_spark_mid = _spark_probe(spark)

    ann_grid: list[dict] = []
    try:
        ann_grid = _ann_band_bench(spark, sf_dir, timings, reps)
    except Exception as e:
        print(f"ann_band_bench FAILED: {e}", file=sys.stderr)

    # The streaming curation rate lives in the 'replay' block, NOT in
    # queries/total: it replays a 10x corpus, so folding its wall into
    # the headline total would make round-over-round totals
    # incomparable. The job's own drain rate is perfbench's
    # (txn_backlog, throughput_per_s), not measured here.
    replay_metrics: dict = {}
    replay_retries: list[dict] = []

    def _replay_block(label: str, bar_key: str, bar: float, fn) -> None:
        """Run one streaming block; if its BASELINE-target
        metric missed the bar AND the block's own /proc/stat window
        was contended (steal >= 2%), re-run ONCE (VERDICT r09 #6 —
        disclosed methodology, same spirit as the min-of-N query
        reps: a host steal storm must not read as a target breach).
        Throughput keys keep the max across attempts, wall keys the
        min; every retry is recorded under replay['retries']."""
        for attempt in (1, 2):
            w0 = _cpu_window_snapshot()
            m: dict = {}
            try:
                fn(m)
            except Exception as e:
                print(f"{label} FAILED: {e}", file=sys.stderr)
                return
            pcts = _cpu_window_pcts(w0, _cpu_window_snapshot())
            steal = pcts.get("window_steal_pct", 0.0)
            if attempt == 1:
                replay_metrics.update(m)
                if (m.get(bar_key) or 0) >= bar or steal < 2.0:
                    return
                print(
                    f"{label}: {bar_key}={m.get(bar_key)} under bar "
                    f"{bar} on a contended window (steal={steal}%) — "
                    f"one disclosed retry",
                    file=sys.stderr,
                )
                replay_retries.append(
                    {
                        "block": label,
                        "first": m.get(bar_key),
                        "first_steal_pct": steal,
                    }
                )
            else:
                for k, v in m.items():
                    old = replay_metrics.get(k)
                    if isinstance(old, (int, float)) and isinstance(
                        v, (int, float)
                    ):
                        replay_metrics[k] = (
                            min(old, v)
                            if k.endswith("_wall_sec")
                            else max(old, v)
                        )
                    else:
                        replay_metrics[k] = v
                replay_retries[-1]["retry"] = m.get(bar_key)
                replay_retries[-1]["retry_steal_pct"] = steal

    _replay_block(
        "streaming_curation",
        "curation_docs_per_sec",
        2_000,
        lambda m: _streaming_curation_bench(spark, sf_dir, m),
    )
    if replay_retries:
        replay_metrics["retries"] = replay_retries

    rehearsal: dict = {}
    if os.environ.get("SPARK_GRAFT_SKIP_REHEARSAL") != "1":
        try:
            rehearsal = _scale_rehearsal(spark, sf_dir)
        except Exception as e:
            print(f"scale_rehearsal FAILED: {e}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    probe = _cpu_probe()
    probe_par = _cpu_probe_parallel()
    probe_spark = _spark_probe(spark)
    window = _cpu_window_pcts(stat_start, _cpu_window_snapshot())
    # normalized headline: host-contention-invariant round-over-round
    # comparison number (VERDICT r07 #2) — the spark probe feels the
    # same contention the queries do, so the RATIO survives a noisy
    # driver host where raw seconds lie 2-50x. VERDICT r08 #2: the
    # divisor is the MEDIAN of probes interleaved before/mid/after
    # the run, not one end-of-run instant, so bursty contention
    # inside the window can't make the ratio lie.
    probe_spark_median = sorted(
        [probe_spark_before, probe_spark_mid, probe_spark]
    )[1]
    total_norm = (
        round(total / probe_spark_median, 2) if probe_spark_median else None
    )
    # one-word canary verdict stamped next to every target check
    # below: a missed target on a contended window is self-describing
    # (VERDICT r08 #3 — the driver-copy staged-replay "breach").
    steal = window.get("window_steal_pct", 0.0)
    par_ratio = round(probe_par / probe, 2) if probe else None
    canary = (
        f"contended(steal={steal}%,par/serial={par_ratio})"
        if (steal >= 2.0 or (par_ratio or 1.0) >= 3.0)
        else f"clean(steal={steal}%,par/serial={par_ratio})"
    )
    targets: list[dict] = []

    def _target(name: str, value, kind: str, bar: float) -> None:
        ok = value is not None and (
            value >= bar if kind == ">=" else value < bar
        )
        targets.append(
            {
                "target": name,
                "value": value,
                "bar": f"{kind}{bar}",
                "pass": bool(ok),
                "canary": canary,
            }
        )
        if not ok:
            print(
                f"TARGET MISS {name}: {value} (bar {kind}{bar}) "
                f"canary={canary}",
                file=sys.stderr,
            )

    _target(
        "curation_docs_per_sec",
        replay_metrics.get("curation_docs_per_sec"),
        ">=",
        2_000,
    )
    for qname, wall in (rehearsal.get("queries") or {}).items():
        _target(f"rehearsal_10x.{qname}", wall, "<", 120.0)
    print(
        f"cpu_probe_s: {probe} cpu_probe_parallel_s: {probe_par} "
        f"spark_probe_s: {probe_spark} (before: {probe_spark_before}, "
        f"mid: {probe_spark_mid}, median: {probe_spark_median}) "
        f"total/spark_probe_median: {total_norm} window: {window} "
        f"canary: {canary}",
        file=sys.stderr,
    )
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "ann_grid": ann_grid,
        "replay": replay_metrics,
        "rehearsal_10x": rehearsal,
        "cpu_probe_s": probe,
        "cpu_probe_parallel_s": probe_par,
        "spark_probe_s": probe_spark,
        "spark_probe_before_s": probe_spark_before,
        "spark_probe_mid_s": probe_spark_mid,
        "spark_probe_median_s": probe_spark_median,
        "total_per_spark_probe": total_norm,
        "canary": canary,
        "targets": targets,
        **window,
        # provenance (VERDICT r07 #3): which machine produced this
        # artifact — the committed builder-clean copy and the
        # driver's overwrite are distinguishable at a glance
        "host": socket.gethostname(),
        "sf": sf_val,
    }
    # Full payload goes to a committed file; the FINAL stdout line must
    # stay inside the driver's ~2000-char tail capture (r04 lost its
    # bench signal to an overgrown final line — VERDICT r04 #1).
    # r10 contract hardening (VERDICT r09 #2): the compact line holds
    # EVERY query name (the old 1500-char prune silently dropped the 5
    # FASTEST queries from the driver's round-over-round table), the
    # diagnostics that used to pad it live only in BENCH_DETAIL.json,
    # the line is ALSO mirrored to BENCH_COMPACT.json, and it prints
    # AFTER spark.stop() so no late Spark log line (r08: a
    # 'WARN StateStore' after the JSON broke the last-line parse) can
    # land behind it.
    with open(Path(__file__).resolve().parent / "BENCH_DETAIL.json", "w") as f:
        json.dump(detail, f, indent=1)
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # retry details stay in BENCH_DETAIL.json — on the one-line
        # budget only the metric values matter
        "replay": {
            k: v for k, v in replay_metrics.items() if k != "retries"
        },
        "spark_probe_median_s": probe_spark_median,
        "total_per_spark_probe": total_norm,
        "canary": canary,
        "sf": sf_val,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        compact.pop("replay", None)
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and len(compact["queries"]) > 1:
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[
                : max(1, len(compact["queries"]) - 5)
            ]
        )
        if slowest == compact["queries"]:
            break  # no progress possible — fall through to headline-only
        compact["queries"] = slowest
        compact["queries_truncated_to_slowest"] = len(slowest)
        line = json.dumps(compact, separators=(",", ":"))
        timings = slowest
    if len(line) > 1900:
        # last resort: headline fields only (ADVICE r05 — the old
        # loop had no progress guarantee at one remaining entry)
        compact["queries"] = {}
        compact["queries_truncated_to_slowest"] = 0
        line = json.dumps(compact, separators=(",", ":"))
    with open(
        Path(__file__).resolve().parent / "BENCH_COMPACT.json", "w"
    ) as f:
        f.write(line + "\n")
    try:
        spark.stop()
    except Exception as e:  # the compact line must print regardless
        print(f"spark.stop() failed: {e}", file=sys.stderr)
    print(line, flush=True)


if __name__ == "__main__":
    main()
