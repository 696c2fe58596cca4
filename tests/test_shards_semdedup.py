"""Unit tests for the round-4 curation additions: SemDeDup-style
semantic dedup, hard-negative mining, Gopher rule flags, and LPT
balanced sharding — known-answer cases plus the plan/balance
properties that make each one scale."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from flink_ecommerce_spark import registry
from flink_ecommerce_spark.operators.packing import balanced_shards, shard_balance
from flink_ecommerce_spark.operators.similarity import hard_negatives, semantic_dedup
from flink_ecommerce_spark.operators.text import gopher_quality_flags

from tests.conftest import SF_SMALL


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_semantic_dedup_drops_junior_near_duplicate(spark):
    # label 0 centroid pulls the first three vectors into one cell;
    # vec 1 is a near-copy of vec 0 (cos ~ 1) -> dropped; vec 2 is
    # orthogonal-ish -> kept; label 1's vector sits alone -> kept
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.01, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(_emb(spark, rows), threshold=0.95).collect()
    }
    assert out[0]["kept"] and out[0]["max_dup_sim"] == 0.0
    assert not out[1]["kept"] and out[1]["max_dup_sim"] > 0.999
    assert out[2]["kept"]
    assert out[3]["kept"]


def test_semantic_dedup_seniority_is_not_transitive_chaining(spark):
    # a chain a~b, b~c with a!~c: b is dropped (senior a is close),
    # c is ALSO dropped iff close to some senior — c is close to b
    # (senior, even though b itself is dropped). This is the
    # order-free "earlier vector wins" rule, documented behavior.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.98, 0.199, 0.0, 0.0], 0),  # cos(0,1) ~ 0.98
        (2, [0.92, 0.39, 0.0, 0.0], 0),  # cos(1,2) ~ 0.98, cos(0,2) ~ 0.92
    ]
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(_emb(spark, rows), threshold=0.95).collect()
    }
    assert out == {0: True, 1: False, 2: False}


def test_hard_negatives_never_returns_query_label(spark):
    df = registry.SPECS["hard_negatives"].fn(spark, SF_SMALL)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    joined = df.join(emb, "query_id")
    assert joined.filter(F.col("neighbor_label") == F.col("q_label")).count() == 0
    # dense ranks 1..k per query, descending similarity
    per_q = joined.groupBy("query_id").agg(
        F.collect_list(F.struct("rk", "cos_sim")).alias("s")
    )
    for row in per_q.collect():
        s = sorted(row["s"], key=lambda x: x["rk"])
        assert [x["rk"] for x in s] == list(range(1, len(s) + 1))
        sims = [x["cos_sim"] for x in s]
        assert sims == sorted(sims, reverse=True)


def test_gopher_flags_each_rule_fires(spark):
    docs = spark.createDataFrame(
        [
            # healthy: 30 distinct words incl. stopwords, mwl>=4
            (1, " ".join(["the", "of"] + [f"word{i}" for i in range(28)]), "en", "s", 0),
            # too short
            (2, "the of table table longword", "en", "s", 0),
            # low diversity: one word repeated (mwl kept healthy)
            (3, " ".join(["the", "of"] + ["worda"] * 48), "en", "s", 0),
            # no stopwords
            (4, " ".join([f"table{i}" for i in range(40)]), "en", "s", 0),
            # tiny mean word length, all words distinct
            (5, " ".join(["the", "of"] + [f"a{c}" for c in "bcdefghijklmnopqrstuvwxyzABCDEFGHIJKL"]), "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[1]["keep"] and all(
        out[1][c]
        for c in ("word_count_ok", "word_len_ok", "diversity_ok", "stopword_ok")
    )
    assert not out[2]["word_count_ok"] and not out[2]["keep"]
    assert not out[3]["diversity_ok"] and not out[3]["keep"]
    assert not out[4]["stopword_ok"] and not out[4]["keep"]
    assert not out[5]["word_len_ok"] and not out[5]["keep"]


def test_balanced_shards_rank_is_global_permutation(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = balanced_shards(docs, n_shards=4).collect()
    n = len(out)
    assert sorted(r["rank"] for r in out) == list(range(1, n + 1))
    # rank order == (n_tokens desc, doc_id asc)
    by_rank = sorted(out, key=lambda r: r["rank"])
    keys = [(-r["n_tokens"], r["doc_id"]) for r in by_rank]
    assert keys == sorted(keys)
    assert all(r["shard"] == (r["rank"] - 1) % 4 for r in out)


def test_balanced_shards_lpt_balance_bound(spark):
    # sorted round-robin: max shard load - min shard load <= max item
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rep = shard_balance(docs, n_shards=4).collect()
    totals = [r["total_tokens"] for r in rep]
    max_item = (
        balanced_shards(docs, n_shards=4)
        .agg(F.max("n_tokens"))
        .collect()[0][0]
    )
    assert max(totals) - min(totals) <= max_item
    assert abs(sum(r["token_share"] for r in rep) - 1.0) < 1e-4


def test_balanced_shards_no_global_sort_on_corpus(spark):
    # the exact global rank must come from the length-bucket
    # decomposition: the corpus-wide window partitions by n_tokens
    # (hashpartitioning), never a corpus-wide SinglePartition sort;
    # the per-length offsets join back as a broadcast
    df = registry.SPECS["balanced_shards"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(n_tokens#\d+", plan), plan
    assert "BroadcastHashJoin" in plan
    # the only SinglePartition window runs over the per-length count
    # aggregate (rows = distinct lengths), never over document rows
    for frag in plan.split("Exchange SinglePartition"):
        pass
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1, plan


def test_corpus_funnel_stages_monotone_and_consistent(spark):
    from flink_ecommerce_spark.operators.text import (
        FUNNEL_STAGES,
        budgeted_mixture,
        corpus_funnel,
        gopher_quality_flags,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = {r["stage"]: r for r in corpus_funnel(docs).collect()}
    assert [out[s]["stage_idx"] for s in FUNNEL_STAGES] == [0, 1, 2, 3, 4]
    # conjunctive, ordered stages: monotone non-increasing in both units
    docs_seq = [out[s]["n_docs"] for s in FUNNEL_STAGES]
    toks_seq = [out[s]["n_tokens"] for s in FUNNEL_STAGES]
    assert docs_seq == sorted(docs_seq, reverse=True)
    assert toks_seq == sorted(toks_seq, reverse=True)
    # raw == corpus, rules == gopher keep count, budget > 0
    assert out["raw"]["n_docs"] == docs.count()
    n_keep = gopher_quality_flags(docs).filter("keep").count()
    assert out["rules"]["n_docs"] == n_keep
    assert 0 < out["budget"]["n_docs"] <= out["decontam"]["n_docs"]


def test_budgeted_mixture_unchanged_by_cumsum_refactor(spark):
    # the extracted _budget_cumsum must reproduce the certified
    # greedy semantics: kept set == all docs whose per-source
    # (quality desc, doc_id) running total fits the budget
    from pyspark.sql import Window
    from flink_ecommerce_spark.operators.text import budgeted_mixture

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = budgeted_mixture(docs)
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = out.select(
        "doc_id", (F.sum("n_tokens").over(w) <= 1000).alias("naive_kept")
    )
    diff = (
        out.join(naive, "doc_id")
        .filter(F.col("kept") != F.col("naive_kept"))
        .count()
    )
    assert diff == 0


def test_gopher_flags_are_stream_agnostic(spark, tmp_path):
    """The rule battery is a pure per-row projection, so the SAME
    function body runs unchanged on a streaming DataFrame — the
    design contract that lets batch-certified curation expressions
    gate an ingest stream (filter at the edge, before anything is
    persisted). Streamed output must equal the batch output row-set."""
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "source")
        .limit(60)
    )
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, source string") \
        .option("maxFilesPerTrigger", "1").parquet(src)
    out = gopher_quality_flags(stream)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("gopher_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        tuple(r) for r in spark.sql("SELECT * FROM gopher_stream").collect()
    }
    batch = {tuple(r) for r in gopher_quality_flags(docs).collect()}
    assert streamed == batch


def test_semantic_dedup_extra_bits_scale_knob(spark):
    from flink_ecommerce_spark.operators.similarity import semantic_dedup

    # exact duplicates always share every hyperplane side -> still
    # caught at any bit width; sub-bucketing only multiplies cells
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),  # exact copy of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    emb = _emb(spark, rows)
    out0 = {r["vec_id"]: r["kept"] for r in semantic_dedup(emb).collect()}
    out3 = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(emb, extra_bits=3).collect()
    }
    assert out0[1] is False and out3[1] is False
    assert out0[0] and out3[0]

    big = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cells0 = semantic_dedup(big).select("cell").distinct().count()
    cells2 = semantic_dedup(big, extra_bits=2).select("cell").distinct().count()
    assert cells2 > cells0


def test_balanced_shards_matches_python_reference_random_lengths(spark):
    """Property: the length-bucket rank decomposition reproduces the
    naive (n_tokens DESC, doc_id ASC) global rank on adversarial
    length multisets (heavy ties — the decomposition's hard case)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(["w"] * rng.choice([1, 2, 2, 5, 5, 5, 40])), "s")
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in balanced_shards(docs, n_shards=5).collect()}
    ref = sorted(rows, key=lambda r: (-len(r[1].split()), r[0]))
    for rank, row in enumerate(ref, start=1):
        assert out[row[0]]["rank"] == rank
        assert out[row[0]]["shard"] == (rank - 1) % 5


def test_corpus_funnel_by_source_sums_to_global(spark):
    from flink_ecommerce_spark.operators.text import (
        corpus_funnel,
        corpus_funnel_by_source,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    glob = {r["stage"]: r for r in corpus_funnel(docs).collect()}
    per_src = corpus_funnel_by_source(docs).collect()
    by_stage = {}
    for r in per_src:
        a = by_stage.setdefault(r["stage"], [0, 0])
        a[0] += r["n_docs"]
        a[1] += r["n_tokens"]
    for stage, (d, t) in by_stage.items():
        assert d == glob[stage]["n_docs"], stage
        assert t == glob[stage]["n_tokens"], stage


def test_drop_reasons_consistent_with_funnel(spark):
    from flink_ecommerce_spark.operators.text import (
        corpus_funnel,
        curation_drop_reasons,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    glob = {r["stage"]: r["n_docs"] for r in corpus_funnel(docs).collect()}
    reasons = (
        curation_drop_reasons(docs)
        .groupBy("dropped_at")
        .count()
        .collect()
    )
    by = {r["dropped_at"]: r["count"] for r in reasons}
    assert by.get("kept", 0) == glob["budget"]
    assert by.get("rules", 0) == glob["raw"] - glob["rules"]
    assert by.get("dedup", 0) == glob["rules"] - glob["dedup"]
    assert by.get("decontam", 0) == glob["dedup"] - glob["decontam"]
    assert by.get("budget", 0) == glob["decontam"] - glob["budget"]


def test_quality_thresholds_keep_semantics(spark):
    from flink_ecommerce_spark.operators.text import quality_thresholds

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rows = quality_thresholds(docs, keep_frac=0.5).collect()
    assert rows
    for r in rows:
        # median cutoff: at least half the docs clear it (ties can
        # push above), and never fewer than half minus the tie mass
        assert r["n_kept"] >= r["n_docs"] // 2, r
        assert r["n_kept"] <= r["n_docs"], r


def test_quality_thresholds_keep_all_edge(spark):
    from flink_ecommerce_spark.operators.text import quality_thresholds

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rows = quality_thresholds(docs, keep_frac=1.0).collect()
    for r in rows:
        assert r["n_kept"] == r["n_docs"], r  # cutoff = per-source min


def test_balanced_shards_id_buckets_exact_on_uniform_lengths(spark):
    """Degenerate case: every doc the same length — the single-level
    decomposition collapses to one task; id_bucket_bits must split
    the work while reproducing the EXACT naive rank."""
    rows = [(i, " ".join(["w"] * 10), "s") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in balanced_shards(docs, n_shards=4, id_bucket_bits=3).collect()
    }
    # uniform length: rank == doc_id order
    for i in range(200):
        assert out[i]["rank"] == i + 1
        assert out[i]["shard"] == i % 4
    # the plan partitions by (n_tokens, id bucket), not one task
    df = balanced_shards(docs, n_shards=4, id_bucket_bits=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(n_tokens#\d+L?, __idb#\d+", plan), plan


def test_balanced_shards_id_buckets_match_default_on_fixture(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    base = {
        (r["doc_id"], r["rank"], r["shard"])
        for r in balanced_shards(docs, n_shards=4).collect()
    }
    bucketed = {
        (r["doc_id"], r["rank"], r["shard"])
        for r in balanced_shards(docs, n_shards=4, id_bucket_bits=2).collect()
    }
    assert base == bucketed


def test_semantic_dedup_prefix_bound_prefilter_is_lossless(spark):
    """r10: the within-cell pair prefilter (Cauchy-Schwarz prefix
    bound, see semantic_dedup's docstring) must be result-preserving.
    Property test on a random corpus seeded with true near-dups: the
    pruned plan's full output equals a brute-force reference with NO
    bound conjunct, row for row — kept flags AND max_dup_sim values.
    Also pins the bound itself: bound >= exact cosine on every
    within-cell pair (the inequality the pruning proof rests on),
    including negative-dot and zero-vector edges."""
    import random

    from flink_ecommerce_spark.functions.vector import (
        cosine_from_parts,
        dot,
        l2_norm,
    )
    from flink_ecommerce_spark.operators.similarity import build_ivf_index

    random.seed(42)
    rows = []
    for vid in range(150):
        base = [random.uniform(-1, 1) for _ in range(64)]
        rows.append((vid, base, vid % 4))
        if vid % 5 == 0:  # true near-duplicate of base
            rows.append(
                (
                    vid + 10_000,
                    [x * 1.0005 + random.uniform(-5e-5, 5e-5) for x in base],
                    vid % 4,
                )
            )
    rows.append((20_000, [0.0] * 64, 0))  # zero vector edge
    rows.append((20_001, [-x for x in rows[0][1]], 0))  # antipodal edge
    emb = _emb(spark, [(v, [float(x) for x in e], l) for v, e, l in rows])

    got = sorted(
        tuple(r) for r in semantic_dedup(emb, threshold=0.95).collect()
    )

    # brute-force reference: the pre-r10 shape, no prefilter
    assign, _ = build_ivf_index(emb)
    a = assign.select(
        "vec_id", "cell", "embedding", l2_norm(F.col("embedding")).alias("__n")
    ).localCheckpoint(eager=True)
    senior = a.select(
        F.col("cell").alias("__c2"),
        F.col("vec_id").alias("__sid"),
        F.col("embedding").alias("__semb"),
        F.col("__n").alias("__sn"),
    )
    sim = F.round(
        cosine_from_parts(
            dot(F.col("embedding"), F.col("__semb")),
            F.col("__n"),
            F.col("__sn"),
        ),
        6,
    )
    dup = (
        a.join(senior, F.col("cell") == F.col("__c2"))
        .filter(F.col("__sid") < F.col("vec_id"))
        .select("vec_id", sim.alias("__sim"))
        .filter(F.col("__sim") >= 0.95)
        .groupBy("vec_id")
        .agg(F.max("__sim").alias("__max_dup"))
    )
    ref = sorted(
        tuple(r)
        for r in a.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("__max_dup").isNull().alias("kept"),
            F.round(F.coalesce(F.col("__max_dup"), F.lit(0.0)), 6).alias(
                "max_dup_sim"
            ),
        )
        .collect()
    )
    assert got == ref
    assert any(not r[2] for r in ref)  # the fixture has real drops

    # the inequality itself: bound >= exact cosine on every pair
    from flink_ecommerce_spark.operators.similarity import (
        SEMDEDUP_PREFILTER_DIMS as K,
    )

    pref = F.lit(0.0)
    for i in range(1, K + 1):
        pref = pref + F.element_at(F.col("embedding"), i).cast(
            "double"
        ) * F.element_at(F.col("__semb"), i).cast("double")
    tail = l2_norm(F.slice(F.col("embedding"), K + 1, 64))
    stail = l2_norm(F.slice(F.col("__semb"), K + 1, 64))
    denom = F.greatest(F.col("__n") * F.col("__sn"), F.lit(1e-12))
    viol = (
        a.join(senior, F.col("cell") == F.col("__c2"))
        .filter(F.col("__sid") < F.col("vec_id"))
        .select(
            (((pref + tail * stail) / denom)
             - cosine_from_parts(
                 dot(F.col("embedding"), F.col("__semb")),
                 F.col("__n"),
                 F.col("__sn"),
             )).alias("__slack")
        )
        .filter(F.col("__slack") < -1e-9)
        .count()
    )
    assert viol == 0


def test_dot_fixed_is_ieee_identical_to_dot(spark):
    """dot_fixed (the unrolled codegen form used on pair-join hot
    paths) must produce the BIT-identical double to the higher-order
    dot on every row — same products, same accumulation order."""
    import random

    from flink_ecommerce_spark.functions.vector import dot, dot_fixed

    random.seed(7)
    rows = [
        (i, [random.uniform(-10, 10) for _ in range(64)],
         [random.uniform(-10, 10) for _ in range(64)])
        for i in range(500)
    ]
    # short-array rows exercise the fallback branch
    rows.append((9001, [1.0, 2.0], [3.0, 4.0]))
    rows.append((9002, [], []))
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    bad = (
        df.select(
            (dot(F.col("a"), F.col("b"))
             != dot_fixed(F.col("a"), F.col("b"), 64)).alias("__diff")
        )
        .filter(F.col("__diff"))
        .count()
    )
    assert bad == 0
