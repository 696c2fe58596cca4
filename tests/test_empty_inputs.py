"""Degenerate inputs: every plan must survive empty tables (schema
preserved, zero or aggregate-only rows, no exceptions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_ecommerce_spark.operators import dedup, text
from flink_ecommerce_spark.plans import analytics, sales
from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA, EVENTS_SCHEMA


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame([], EVENTS_SCHEMA)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], DOCUMENTS_SCHEMA)


def test_sales_plans_on_empty(spark, empty_events):
    assert sales.sales_per_day(empty_events, "ts", "value").collect() == []
    assert sales.sales_per_month(empty_events, "ts", "value").collect() == []
    assert analytics.top_users_per_event_type(empty_events).collect() == []
    assert analytics.user_sessions(empty_events).collect() == []
    # Engine note: Spark's rollup over EMPTY input emits no rows,
    # while ANSI/DuckDB emit the grand-total row. Divergence exists
    # only for empty inputs (oracle data is never empty); pinned here
    # so a behavior change is noticed.
    assert analytics.sales_rollup(empty_events).collect() == []


def test_dedup_on_empty_docs(spark, empty_docs):
    assert dedup.dedup_exact(empty_docs).collect() == []
    assert dedup.minhash_signatures(empty_docs).collect() == []
    assert dedup.lsh_candidate_pairs(empty_docs).collect() == []
    assert dedup.simhash(empty_docs).collect() == []


def test_text_on_empty_and_tiny_docs(spark, empty_docs):
    assert text.token_counts(empty_docs).collect() == []
    assert text.tfidf_top_terms_int(empty_docs).collect() == []
    # one-word doc: shorter than the shingle width
    tiny = spark.createDataFrame([(1, "hi", "en", "s", 2)], DOCUMENTS_SCHEMA)
    sigs = dedup.minhash_signatures(tiny).collect()
    assert len(sigs) == 1 and sigs[0]["mh0"] is None  # no shingles → null
    fp = text.doc_fingerprints(tiny).collect()
    assert fp[0]["content_fp"] is not None


def test_curated_corpus_on_empty_and_tiny_docs(spark, empty_docs):
    assert text.curated_corpus(empty_docs).collect() == []
    # one-word docs produce no shingles → no contamination row → the
    # inner join drops them (junk-by-definition, per the docstring)
    tiny = spark.createDataFrame(
        [(1, "hi", "en", "s", 2), (3, "ok", "en", "s", 2)], DOCUMENTS_SCHEMA
    )
    assert text.curated_corpus(tiny).collect() == []


def test_null_text_documents(spark):
    docs = spark.createDataFrame(
        [(1, None, "en", "s", 0), (2, "a b c d", "en", "s", 7)], DOCUMENTS_SCHEMA
    )
    sigs = {r["doc_id"]: r for r in dedup.minhash_signatures(docs).collect()}
    assert sigs[1]["mh0"] is None and sigs[2]["mh0"] is not None
    counts = {r["doc_id"]: r for r in text.token_counts(docs).collect()}
    assert counts[1]["n_tokens"] is None or counts[1]["n_tokens"] == 0


def test_packing_and_surprisal_on_empty(spark, empty_docs):
    from flink_ecommerce_spark.operators.packing import (
        doc_chunks,
        packing_efficiency,
        sequence_packing,
    )
    from flink_ecommerce_spark.operators.similarity import knn_int8

    assert sequence_packing(empty_docs).collect() == []
    assert packing_efficiency(sequence_packing(empty_docs)).collect() == []
    assert doc_chunks(empty_docs).collect() == []
    assert text.unigram_surprisal(empty_docs).collect() == []
    from flink_ecommerce_spark.schemas import EMBEDDINGS_SCHEMA

    empty_emb = spark.createDataFrame([], EMBEDDINGS_SCHEMA)
    assert knn_int8(empty_emb).collect() == []


def test_round4_ops_on_empty(spark, empty_docs):
    from flink_ecommerce_spark.operators import packing

    assert text.gopher_quality_flags(empty_docs).collect() == []
    assert packing.balanced_shards(empty_docs).collect() == []
    assert packing.shard_balance(empty_docs).collect() == []
    # funnel on an empty corpus: five stage rows, all zero (sum over
    # empty returns null -> coalesced semantics live in the aggregate
    # CASE arms, so assert the concrete contract here)
    rows = {r["stage"]: r for r in text.corpus_funnel(empty_docs).collect()}
    assert set(rows) == set(text.FUNNEL_STAGES)
    assert all(
        (r["n_docs"] or 0) == 0 and (r["n_tokens"] or 0) == 0
        for r in rows.values()
    )


def test_round4_similarity_on_empty(spark):
    from flink_ecommerce_spark.operators import similarity

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert similarity.semantic_dedup(empty_emb).collect() == []
    assert similarity.hard_negatives(empty_emb).collect() == []


def test_fuzzy_admission_and_sampling_on_empty(spark, empty_docs):
    from flink_ecommerce_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a genuinely new document with enough words to shingle "
             "across the default width", "en", "s", 10)],
        DOCUMENTS_SCHEMA,
    )
    # empty new batch / empty history — and empty vs empty
    assert dedup.incremental_fuzzy_dedup(empty_docs, docs).collect() == []
    kept = dedup.incremental_fuzzy_dedup(docs, empty_docs).collect()
    assert {r["doc_id"] for r in kept} == {1}
    assert dedup.incremental_fuzzy_dedup(empty_docs, empty_docs).collect() == []
    assert sampling.weighted_sample(empty_docs).collect() == []


def test_pq_jl_on_empty(spark):
    from flink_ecommerce_spark.operators import similarity

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert similarity.pq_codes(empty_emb).collect() == []
    assert similarity.pq_ann_topk(empty_emb).collect() == []
    assert similarity.pq_ann_rerank(empty_emb).collect() == []
    assert similarity.jl_project(empty_emb).collect() == []


def test_retrieval_on_empty_docs(spark, empty_docs):
    from flink_ecommerce_spark.operators import retrieval

    assert retrieval.bm25_topk(empty_docs).collect() == []
    assert retrieval.phrase_search(empty_docs).collect() == []
    assert retrieval.phrase_scan(empty_docs).collect() == []
    assert retrieval.build_postings(empty_docs).collect() == []
    assert retrieval.lexical_topk(empty_docs).collect() == []


def test_prefix_jaccard_and_recall_report_on_empty_docs(spark, empty_docs):
    from flink_ecommerce_spark.operators import dedup as dd

    assert dd.prefix_jaccard_pairs(empty_docs).collect() == []
    report = dd.lsh_recall_report(empty_docs).collect()
    assert len(report) == 1
    r = report[0]
    assert (r["n_true"], r["n_lsh"], r["n_hit"]) == (0, 0, 0)
    assert r["recall_micro"] is None  # 0/0 — no truth to recall


def test_pagerank_on_empty_edges(spark):
    from flink_ecommerce_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(edges).collect() == []


def test_key_skew_on_empty_events(spark, empty_events):
    from flink_ecommerce_spark.operators.scale import (
        key_skew_summary,
        key_skew_topk,
    )

    assert key_skew_topk(empty_events, "user_id").collect() == []
    s = key_skew_summary(empty_events, "user_id").collect()
    assert len(s) == 1 and s[0]["n_keys"] == 0


def test_late_r05_ops_on_empty(spark, empty_events, empty_docs):
    from flink_ecommerce_spark.operators.cdc import pit_join
    from flink_ecommerce_spark.operators.dedup import (
        documents_deduped_best,
        dup_rate_by_source,
    )
    from flink_ecommerce_spark.operators.packing import shard_manifest
    from flink_ecommerce_spark.operators.sampling import (
        temperature_mixture,
        temperature_mixture_summary,
    )
    from flink_ecommerce_spark.plans.analytics import (
        retention_rates,
        rfm_segments,
        rolling_active_users,
        top_session_paths,
    )
    from flink_ecommerce_spark.plans.temporal import (
        event_transitions,
        sliding_event_counts,
    )

    assert rfm_segments(empty_events).collect() == []
    assert rolling_active_users(empty_events).collect() == []
    assert retention_rates(empty_events).collect() == []
    assert event_transitions(empty_events).collect() == []
    assert sliding_event_counts(empty_events).collect() == []
    assert top_session_paths(empty_events).collect() == []
    assert text.char_entropy(empty_docs).collect() == []
    assert text.sentence_chunks(empty_docs).collect() == []
    assert temperature_mixture(empty_docs).collect() == []
    assert temperature_mixture_summary(empty_docs).collect() == []
    assert dup_rate_by_source(empty_docs).collect() == []
    assert documents_deduped_best(empty_docs).collect() == []
    assert shard_manifest(empty_docs).collect() == []
    from flink_ecommerce_spark.operators.dedup import (
        documents_substr_deduped,
        substr_dedup_spans,
    )

    assert substr_dedup_spans(empty_docs).collect() == []
    assert documents_substr_deduped(empty_docs).collect() == []
    from flink_ecommerce_spark.plans.analytics import (
        event_type_correlations,
        robust_value_stats,
        seasonal_daily_decompose,
    )

    assert event_type_correlations(empty_events).collect() == []
    assert robust_value_stats(empty_events).collect() == []
    assert seasonal_daily_decompose(empty_events).collect() == []
    # pit_join: empty dim keeps fact cardinality with NULL attrs
    import datetime as dt

    facts = spark.createDataFrame(
        [(1, 7, dt.datetime(2024, 1, 1))],
        "event_id long, user_id long, ts timestamp",
    )
    empty_dim = spark.createDataFrame(
        [],
        "user_id long, segment string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    )
    out = pit_join(facts, empty_dim, "user_id", "ts", ["segment"]).collect()
    assert len(out) == 1 and out[0]["segment"] is None


def test_session_r06_ops_on_empty(spark, empty_docs, empty_events):
    """The r06 additions: bloom / PMI / PSI / attribution / HLL /
    triangle census / k-anonymity — all must survive empty inputs
    with schema intact."""
    from flink_ecommerce_spark.operators.sketch import (
        bloom_admission,
        bloom_bits,
        hll_distinct_users,
    )
    from flink_ecommerce_spark.plans.temporal import linear_attribution
    from flink_ecommerce_spark.plans.tpch import copurchase_graph_stats

    assert bloom_bits(empty_docs).collect() == []
    assert bloom_admission(empty_docs, empty_docs).collect() == []
    assert text.pmi_collocations(empty_docs).collect() == []
    assert analytics.value_psi_by_type(empty_events).collect() == []
    assert linear_attribution(empty_events).collect() == []
    r = hll_distinct_users(empty_events).collect()[0]
    assert (r["n_exact"], r["n_hll"]) == (0, 0.0)
    li = spark.createDataFrame([], "l_orderkey long, l_partkey long")
    r = copurchase_graph_stats(li).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (0, 0)
    assert text.k_anonymity_violations(empty_docs).collect() == []


def test_session_r06_aggregate_ops_on_empty(spark, empty_docs, empty_events):
    """Aggregate-shaped r06 ops on empty inputs: one-row summaries
    keep NULL/zero discipline identical to their oracles."""
    from flink_ecommerce_spark.operators.text import zipf_fit
    from flink_ecommerce_spark.plans.analytics import (
        ab_test_report,
        daily_changepoint,
    )
    from flink_ecommerce_spark.plans.temporal import conversion_lag_stats

    r = conversion_lag_stats(empty_events).collect()[0]
    assert r["n_episodes"] == 0 and r["median_total"] is None
    z = zipf_fit(empty_docs).collect()[0]
    assert (z["n_terms_used"], z["slope"], z["r2"]) == (0, 0.0, 0.0)
    assert daily_changepoint(empty_events).collect() == []
    assert ab_test_report(empty_events).collect() == []


def test_r05_ops_on_empty(spark, empty_events, empty_docs):
    from flink_ecommerce_spark.operators.dedup import source_overlap_minhash
    from flink_ecommerce_spark.operators.sampling import (
        quality_matched_sample,
    )
    from flink_ecommerce_spark.operators.scale import table_profile
    from flink_ecommerce_spark.operators.similarity import (
        ann_lsh_multiprobe,
        mmr_select,
    )
    from flink_ecommerce_spark.operators.sketch import kmv_value_quantiles
    from flink_ecommerce_spark.operators.text import kn_bigram_surprisal
    from flink_ecommerce_spark.plans.temporal import conversion_survival
    from flink_ecommerce_spark.schemas import EMBEDDINGS_SCHEMA

    empty_emb = spark.createDataFrame([], EMBEDDINGS_SCHEMA)
    assert source_overlap_minhash(empty_docs).collect() == []
    assert quality_matched_sample(empty_docs).collect() == []
    assert kn_bigram_surprisal(empty_docs).collect() == []
    assert conversion_survival(empty_events).collect() == []
    assert mmr_select(empty_emb).collect() == []
    assert ann_lsh_multiprobe(empty_emb).collect() == []
    # one-row aggregate shape: n_sampled 0, percentiles NULL
    row = kmv_value_quantiles(empty_events).collect()
    assert len(row) == 1 and row[0]["n_sampled"] == 0
    prof = table_profile(empty_events, ["user_id"]).collect()
    assert len(prof) == 1 and prof[0]["n_rows"] == 0


def test_r06_line_family_on_empty(spark, empty_docs):
    from flink_ecommerce_spark.operators.sampling import token_waterfill
    from flink_ecommerce_spark.operators.text import (
        boilerplate_lines,
        boilerplate_shingles,
        line_dedup,
        strip_boilerplate,
    )

    assert boilerplate_lines(empty_docs).collect() == []
    assert boilerplate_shingles(empty_docs).collect() == []
    assert line_dedup(empty_docs).collect() == []
    assert strip_boilerplate(empty_docs).collect() == []
    assert token_waterfill(empty_docs).collect() == []
