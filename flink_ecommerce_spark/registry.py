"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus — where SQL-expressible —
an exactly-equivalent DuckDB oracle SQL string.

The oracle strings are GENERATED from the same constants the Spark
plans use (hash salts, shingle width, LSH planes, rounding digits),
so Spark and DuckDB compute bit-identical values; the driver's
row-count + schema + value-hash comparison then passes on exact
equality, not approximate luck.

Conventions (driver contract, __spark_entry__.py):
- every aggregate/computed column is aliased identically both sides;
- DuckDB integer results are cast so arrow dtypes match Spark's
  (SUM(int)->HUGEINT => CAST AS BIGINT, len()->BIGINT => INT where
  Spark returns int, ROW_NUMBER/bit_count => INT);
- double aggregates are rounded (2dp for money sums, 6dp for
  ratios/averages/cosines) on BOTH sides, removing float-order
  nondeterminism;
- Spark session timezone is UTC so DATE/`year()` match DuckDB's
  naive timestamps.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog
from .functions.portable import micro as pmicro
from .functions.portable import sql_hash32, sql_micro
from .functions.vector import sql_cosine, sql_l2_norm
from .operators import (
    dedup,
    entity,
    multimodal,
    packing,
    sampling,
    similarity,
    text,
)
from .operators import classifier as _classifier
from .operators import retrieval
from .operators import sketch as _sketch
from .operators.sampling import (
    MIXTURE_WEIGHTS,
    STRATA_RATES,
    sql_bucket,
    sql_rate_case,
)
from .operators.textprep import sql_word_shingles, sql_char_shingles, sql_words
from .plans import analytics, sales, temporal, tpch


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver runs rows-only check
    bench: bool = False  # headline set (perfbench catalog, explain_capture)


def _t(name: str):
    """Loader shorthand: returns a fn(spark, sf_dir) -> DataFrame."""

    def load(spark: SparkSession, sf_dir: str) -> DataFrame:
        return catalog.table(spark, sf_dir, name)

    return load


# ---------------------------------------------------------------- parity

_EVENT_COLS = dict(
    id_col="event_id",
    ts_col="ts",
    user_col="user_id",
    category_col="event_type",
    amount_col="value",
)


def _q_raw_transactions(spark, sf):
    return sales.raw_transactions(_t("events")(spark, sf), **_EVENT_COLS)


def _q_sales_per_day(spark, sf):
    return sales.sales_per_day_cents(_t("events")(spark, sf), "ts", "value")


def _q_sales_per_category(spark, sf):
    return sales.sales_per_category_cents(
        _t("events")(spark, sf), "ts", "event_type", "value"
    )


def _q_sales_per_month(spark, sf):
    return sales.sales_per_month_cents(_t("events")(spark, sf), "ts", "value")


def _q_sales_per_day_purchases(spark, sf):
    return sales.sales_per_day_filtered_cents(
        _t("events")(spark, sf), "purchase", "ts", "event_type", "value"
    )


def _q_category_stats(spark, sf):
    return sales.category_stats_int(_t("events")(spark, sf), "event_type", "value")


def _q_props_extract(spark, sf):
    return sales.props_extract(_t("events")(spark, sf))


# ---------------------------------------------------------------- star schema


def _q_q1(spark, sf):
    return tpch.q1_pricing_summary(_t("lineitem")(spark, sf))


def _q_q3(spark, sf):
    return tpch.q3_shipping_priority(
        _t("customer")(spark, sf), _t("orders")(spark, sf), _t("lineitem")(spark, sf)
    )


def _q_q5(spark, sf):
    return tpch.q5_regional_revenue(
        _t("region")(spark, sf),
        _t("nation")(spark, sf),
        _t("customer")(spark, sf),
        _t("orders")(spark, sf),
        _t("lineitem")(spark, sf),
        _t("supplier")(spark, sf),
    )


def _q_customer_order_totals(spark, sf):
    return tpch.customer_order_totals(_t("customer")(spark, sf), _t("orders")(spark, sf))


def _q_top10_orders(spark, sf):
    return tpch.top10_orders(_t("orders")(spark, sf))


def _q_customers_without_orders(spark, sf):
    return tpch.customers_without_orders(_t("customer")(spark, sf), _t("orders")(spark, sf))


def _q_orders_with_big_lineitem(spark, sf):
    return tpch.orders_with_big_lineitem(_t("orders")(spark, sf), _t("lineitem")(spark, sf))


def _q_parts_by_brand_type(spark, sf):
    return tpch.parts_by_brand_type(_t("part")(spark, sf))


def _q_q2(spark, sf):
    return tpch.q2_min_cost_supplier(
        _t("part")(spark, sf), _t("supplier")(spark, sf), _t("lineitem")(spark, sf)
    )


def _q_q4(spark, sf):
    return tpch.q4_order_priority(_t("orders")(spark, sf), _t("lineitem")(spark, sf))


def _q_q6(spark, sf):
    return tpch.q6_revenue_forecast(_t("lineitem")(spark, sf))


def _q_q7(spark, sf):
    return tpch.q7_volume_shipping(
        _t("supplier")(spark, sf),
        _t("lineitem")(spark, sf),
        _t("orders")(spark, sf),
        _t("customer")(spark, sf),
        _t("nation")(spark, sf),
    )


def _q_q9(spark, sf):
    return tpch.q9_product_profit(
        _t("part")(spark, sf),
        _t("supplier")(spark, sf),
        _t("lineitem")(spark, sf),
        _t("orders")(spark, sf),
        _t("nation")(spark, sf),
    )


def _q_q10(spark, sf):
    return tpch.q10_returned_items(
        _t("customer")(spark, sf),
        _t("orders")(spark, sf),
        _t("lineitem")(spark, sf),
        _t("nation")(spark, sf),
    )


def _q_q13(spark, sf):
    return tpch.q13_order_distribution(_t("customer")(spark, sf), _t("orders")(spark, sf))


def _q_q14(spark, sf):
    return tpch.q14_promo_revenue(_t("lineitem")(spark, sf), _t("part")(spark, sf))


def _q_q17(spark, sf):
    return tpch.q17_small_quantity_revenue(_t("lineitem")(spark, sf), _t("part")(spark, sf))


def _q_q18(spark, sf):
    return tpch.q18_large_volume_customers(
        _t("customer")(spark, sf), _t("orders")(spark, sf), _t("lineitem")(spark, sf)
    )


def _q_q19(spark, sf):
    return tpch.q19_disjunctive_revenue(_t("lineitem")(spark, sf), _t("part")(spark, sf))


def _q_q22(spark, sf):
    return tpch.q22_sales_opportunity(_t("customer")(spark, sf), _t("orders")(spark, sf))


def _q_q8(spark, sf):
    return tpch.q8_market_share(
        _t("part")(spark, sf),
        _t("supplier")(spark, sf),
        _t("lineitem")(spark, sf),
        _t("orders")(spark, sf),
        _t("customer")(spark, sf),
        _t("nation")(spark, sf),
        _t("region")(spark, sf),
    )


def _q_q11(spark, sf):
    return tpch.q11_important_parts(
        _t("lineitem")(spark, sf), _t("supplier")(spark, sf), _t("nation")(spark, sf)
    )


def _q_q12(spark, sf):
    return tpch.q12_priority_shipping(_t("orders")(spark, sf), _t("lineitem")(spark, sf))


def _q_q15(spark, sf):
    return tpch.q15_top_supplier(_t("supplier")(spark, sf), _t("lineitem")(spark, sf))


def _q_q16(spark, sf):
    return tpch.q16_part_supplier_counts(
        _t("part")(spark, sf), _t("supplier")(spark, sf), _t("lineitem")(spark, sf)
    )


def _q_q20(spark, sf):
    return tpch.q20_promotion_suppliers(
        _t("supplier")(spark, sf),
        _t("nation")(spark, sf),
        _t("part")(spark, sf),
        _t("lineitem")(spark, sf),
    )


def _q_q21(spark, sf):
    return tpch.q21_waiting_suppliers(
        _t("supplier")(spark, sf), _t("lineitem")(spark, sf), _t("orders")(spark, sf)
    )


def _q_events_by_customer_segment(spark, sf):
    """Cross-dataset enrichment: the event stream joined to the
    customer dimension (user_id == c_custkey in the fixtures),
    revenue per market segment. Dim broadcast; facts never shuffle
    for the join."""
    ev = _t("events")(spark, sf)
    cust = _t("customer")(spark, sf).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _q_revenue_by_brand(spark, sf):
    """lineitem ⋈ part (broadcast dim): discounted revenue per brand."""
    li = _t("lineitem")(spark, sf)
    part = _t("part")(spark, sf).select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------- analytics


def _q_top_users(spark, sf):
    return analytics.top_users_per_event_type(_t("events")(spark, sf))


def _q_running_revenue(spark, sf):
    return analytics.daily_running_revenue(_t("events")(spark, sf))


def _q_user_sessions(spark, sf):
    return analytics.user_sessions(_t("events")(spark, sf))


def _q_sales_rollup(spark, sf):
    return analytics.sales_rollup(_t("events")(spark, sf))


def _q_session_window_stats(spark, sf):
    return analytics.session_window_stats(_t("events")(spark, sf))


def _q_weekly_moving_avg(spark, sf):
    return analytics.weekly_moving_avg(_t("events")(spark, sf))


def _q_user_value_quartiles(spark, sf):
    return analytics.user_value_quartiles(_t("events")(spark, sf))


def _q_conversion_funnel(spark, sf):
    return analytics.conversion_funnel(_t("events")(spark, sf))


def _q_weekly_retention(spark, sf):
    return analytics.weekly_retention(_t("events")(spark, sf))


def _q_retention_rates(spark, sf):
    return analytics.retention_rates(_t("events")(spark, sf))


def _q_event_type_cube(spark, sf):
    return analytics.event_type_cube(_t("events")(spark, sf))


def _q_distinct_users_per_day(spark, sf):
    return analytics.distinct_users_per_day(_t("events")(spark, sf))


def _q_value_stats(spark, sf):
    return analytics.value_stats_per_type(_t("events")(spark, sf))


def _q_event_value_pivot(spark, sf):
    return analytics.event_value_pivot(_t("events")(spark, sf))


def _q_purchasers_also_errored(spark, sf):
    return analytics.purchasers_also_errored(_t("events")(spark, sf))


def _q_viewers_never_purchased(spark, sf):
    return analytics.viewers_never_purchased(_t("events")(spark, sf))


# ---------------------------------------------------------------- temporal


def _q_asof_last_click(spark, sf):
    return temporal.asof_join_last_click(_t("events")(spark, sf))


def _q_asof_next_purchase(spark, sf):
    return temporal.asof_join_next_purchase(_t("events")(spark, sf))


def _q_price_bands(spark, sf):
    return temporal.lineitem_price_bands(_t("lineitem")(spark, sf))


def _q_interval_join(spark, sf):
    return temporal.interval_join_click_purchase_cents(_t("events")(spark, sf))


def _q_hourly_counts(spark, sf):
    return temporal.hourly_event_counts(_t("events")(spark, sf))


def _q_dod_delta(spark, sf):
    return temporal.day_over_day_delta(_t("events")(spark, sf))


def _q_latest_event(spark, sf):
    return temporal.latest_event_per_user(_t("events")(spark, sf))


def _q_percentiles(spark, sf):
    return temporal.value_percentiles(_t("events")(spark, sf))


def _q_metrics_long(spark, sf):
    return temporal.event_metrics_long(_t("events")(spark, sf))


def _q_above_avg_balance(spark, sf):
    return temporal.customers_above_avg_balance(_t("customer")(spark, sf))


_SCD2_CUTOFF = "2024-01-15 00:00:00"


def _q_scd2_user_segments(spark, sf):
    """SCD2 merge exercised on events: dimension = each user's latest
    event_type before the cutoff; updates = latest after. See
    operators/cdc.py."""
    from .operators.cdc import empty_scd2, scd2_merge

    ev = _t("events")(spark, sf)

    def latest(df):
        # max-struct latest-per-user (same DESC ts, DESC event_id
        # tie-break as a row_number window, map-side combinable)
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
            .select(
                "user_id",
                F.col("m.event_type").alias("segment"),
                F.col("m.ts").alias("effective_ts"),
            )
        )

    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    dim = empty_scd2(latest(ev.filter(F.col("ts") < cutoff)), "user_id", ["segment"])
    upd = latest(ev.filter(F.col("ts") >= cutoff))
    return scd2_merge(dim, upd, "user_id", ["segment"])


def _q_pit_enriched_events(spark, sf):
    """Point-in-time enrichment: every event joined to the SCD2
    segment version valid AT the event's timestamp (operators/
    cdc.py::pit_join) — the temporal companion to scd2_user_segments,
    which answers "what is each user's segment now"; this answers
    "what was it when the event happened". Events that predate the
    user's first version keep NULL segment."""
    from .operators.cdc import pit_join

    ev = _t("events")(spark, sf).select("event_id", "user_id", "ts", "event_type")
    dim = _q_scd2_user_segments(spark, sf)
    out = pit_join(ev, dim, "user_id", "ts", ["segment"])
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "segment",
        F.col("version_from").alias("segment_from"),
    )


# ---------------------------------------------------------------- dedup/text


def _q_corpus_diff(spark, sf):
    """Fixture snapshots: old = doc_id < 400; new = doc_id >= 100
    with every 10th document's text rewritten (a changed revision)."""
    docs = _t("documents")(spark, sf)
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    return dedup.corpus_diff(old, new)


def _q_incremental_dedup(spark, sf):
    """Fixture split: docs with doc_id % 5 == 0 arrive as the new
    batch; the rest are the already-ingested corpus."""
    docs = _t("documents")(spark, sf)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_dedup(new, corpus)


def _q_incremental_fuzzy_dedup(spark, sf):
    """Same fixture split as incremental_dedup (doc_id % 5 == 0 is
    the new batch) so the two admission policies read side by side:
    exact-hash admits reformatted reposts, fuzzy rejects them."""
    docs = _t("documents")(spark, sf)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_fuzzy_dedup(new, corpus)


def _q_containment_pairs(spark, sf):
    return dedup.containment_pairs(_t("documents")(spark, sf))


def _q_shingle_novelty(spark, sf):
    return dedup.shingle_novelty(_t("documents")(spark, sf))


def _q_repeated_substring_spans(spark, sf):
    return dedup.repeated_substring_spans(_t("documents")(spark, sf))


def _q_dedup_exact(spark, sf):
    return dedup.dedup_exact(_t("documents")(spark, sf))


def _q_dedup_exact_normalized(spark, sf):
    return dedup.dedup_exact(_t("documents")(spark, sf), normalized=True)


def _q_minhash_signatures(spark, sf):
    return dedup.minhash_signatures(_t("documents")(spark, sf))


def _q_lsh_candidate_pairs(spark, sf):
    return dedup.lsh_candidate_pairs(_t("documents")(spark, sf))


def _q_ngram_jaccard_pairs(spark, sf):
    return dedup.ngram_jaccard_pairs(_t("documents")(spark, sf))


def _q_prefix_jaccard_pairs(spark, sf):
    return dedup.prefix_jaccard_pairs(_t("documents")(spark, sf))


def _q_source_overlap_minhash(spark, sf):
    return dedup.source_overlap_minhash(_t("documents")(spark, sf))


def _q_bm25_topk(spark, sf):
    return retrieval.bm25_topk(_t("documents")(spark, sf))


def _q_phrase_search(spark, sf):
    return retrieval.phrase_search(_t("documents")(spark, sf))


def _q_value_percentiles_hist(spark, sf):
    return temporal.value_percentiles_hist(_t("events")(spark, sf))


def _q_media_dedup(spark, sf):
    from .operators.multimodal import attach_fake_payload, media_dedup

    return media_dedup(attach_fake_payload(_t("documents")(spark, sf)))


def _q_cross_corpus_surprisal(spark, sf):
    """Same fixture split as incremental_dedup: doc_id % 5 == 0 is
    the incoming batch, scored against the rest as the trusted-LM
    history."""
    docs = _t("documents")(spark, sf)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    history = docs.filter(F.col("doc_id") % 5 != 0)
    return text.cross_corpus_surprisal(new, history)


def _q_corpus_growth(spark, sf):
    return dedup.corpus_growth(_t("documents")(spark, sf))


def _q_lsh_recall_report(spark, sf):
    return dedup.lsh_recall_report(_t("documents")(spark, sf))


def _q_fuzzy_decontaminate(spark, sf):
    return dedup.fuzzy_decontaminate(_t("documents")(spark, sf))


def _q_containment_sketch_pairs(spark, sf):
    return dedup.containment_sketch_pairs(_t("documents")(spark, sf))


def _q_code_switch_report(spark, sf):
    return text.code_switch_report(_t("documents")(spark, sf))


def _q_markov_attribution(spark, sf):
    return temporal.markov_attribution(_t("events")(spark, sf))


def _q_retrieval_eval(spark, sf):
    return retrieval.retrieval_eval(_t("documents")(spark, sf))


def _q_journey_length_hist(spark, sf):
    return temporal.journey_length_hist(_t("events")(spark, sf))


def _q_basket_size_hist(spark, sf):
    return tpch.basket_size_hist(_t("lineitem")(spark, sf))


def _q_dup_quality_report(spark, sf):
    return text.dup_quality_report(_t("documents")(spark, sf))


def _q_retrieval_ndcg(spark, sf):
    return retrieval.retrieval_ndcg(_t("documents")(spark, sf))


def _q_winnowing_fingerprints(spark, sf):
    return dedup.winnowing_fingerprints(_t("documents")(spark, sf))


def _q_winnowing_overlap_pairs(spark, sf):
    return dedup.winnowing_overlap_pairs(_t("documents")(spark, sf))


def _q_dp_source_counts(spark, sf):
    return text.dp_source_counts(_t("documents")(spark, sf))


def _q_lsh_candidate_precision(spark, sf):
    return dedup.lsh_candidate_precision(_t("documents")(spark, sf))


def _q_classifier_calibration(spark, sf):
    return _classifier.calibration_by_margin(_t("documents")(spark, sf))


def _q_item_neighbors_topk(spark, sf):
    return tpch.item_neighbors_topk(_t("lineitem")(spark, sf))


def _q_media_ahash(spark, sf):
    return multimodal.media_ahash(_t("documents")(spark, sf))


def _q_media_ahash_pairs(spark, sf):
    return multimodal.media_ahash_pairs(_t("documents")(spark, sf))


def _q_lsh_recall_sampled(spark, sf):
    """The above-crossover recall meter (VERDICT r06 #5): exact truth
    over a deterministic 1-in-2 portable-hash document sample. The
    fixed sample_mod=2 keeps the oracle SQL a closed form; larger
    corpora take a larger mod, ⌈n_docs / sample target⌉."""
    return dedup.lsh_recall_sampled(_t("documents")(spark, sf), sample_mod=2)


def _q_event_user_skew_topk(spark, sf):
    from .operators.scale import key_skew_topk

    return key_skew_topk(_t("events")(spark, sf), "user_id")


def _q_event_user_skew_summary(spark, sf):
    from .operators.scale import key_skew_summary

    return key_skew_summary(_t("events")(spark, sf), "user_id")


def _q_supplier_pagerank(spark, sf):
    """PageRank over the customer–supplier interaction graph
    (customers and suppliers trade via orders⋈lineitem; supplier
    nodes carry negated ids so the two key spaces can't collide).
    Symmetrized edges — see operators/graph.pagerank."""
    from .operators.graph import pagerank

    orders = _t("orders")(spark, sf)
    li = _t("lineitem")(spark, sf)
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            # -(suppkey+1): keys in both tables start at 0, and a bare
            # negation collides supplier 0 with customer 0 (-0 == 0),
            # manufacturing a self-loop
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges)


def _q_hybrid_search_rrf(spark, sf):
    return retrieval.hybrid_search_rrf(
        _t("documents")(spark, sf), _t("embeddings")(spark, sf)
    )


def _q_simhash(spark, sf):
    return dedup.simhash(_t("documents")(spark, sf))


def _q_dedup_clusters(spark, sf):
    return dedup.dedup_clusters(_t("documents")(spark, sf))


def _q_documents_deduped(spark, sf):
    """The dedup END PRODUCT: keep one representative per cluster
    (the min doc_id — exactly the rows where cluster_id == doc_id)."""
    clusters = dedup.dedup_clusters(_t("documents")(spark, sf))
    keep = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    return _t("documents")(spark, sf).join(keep, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_documents_deduped_best(spark, sf):
    """Quality-aware dedup end product — see
    operators/dedup.py::documents_deduped_best."""
    return dedup.documents_deduped_best(_t("documents")(spark, sf))


def _q_documents_substr_deduped(spark, sf):
    """Keep-one exact-substring dedup end product — see
    operators/dedup.py::documents_substr_deduped."""
    return dedup.documents_substr_deduped(_t("documents")(spark, sf))


def _q_sample_events(spark, sf):
    from .operators.sampling import sample_events

    return sample_events(_t("events")(spark, sf))


def _q_dataset_splits(spark, sf):
    from .operators.sampling import dataset_splits

    return dataset_splits(_t("events")(spark, sf))


def _q_split_summary(spark, sf):
    from .operators.sampling import split_summary

    return split_summary(_t("events")(spark, sf))


def _q_stratified_sample(spark, sf):
    return sampling.stratified_sample(_t("events")(spark, sf))


def _q_mixture_sample(spark, sf):
    return sampling.mixture_sample(_t("documents")(spark, sf))


def _q_temperature_mixture(spark, sf):
    return sampling.temperature_mixture(_t("documents")(spark, sf))


def _q_temperature_mixture_summary(spark, sf):
    return sampling.temperature_mixture_summary(_t("documents")(spark, sf))


def _q_weighted_sample(spark, sf):
    return sampling.weighted_sample(_t("documents")(spark, sf))


def _q_weighted_sample_by_source(spark, sf):
    return sampling.weighted_sample_by_source(_t("documents")(spark, sf))


def _q_countmin_sketch(spark, sf):
    from .operators import sketch

    return sketch.countmin_sketch(_t("documents")(spark, sf))


def _q_countmin_estimates(spark, sf):
    from .operators import sketch

    return sketch.countmin_estimates(_t("documents")(spark, sf))


def _q_first_conversion_episode(spark, sf):
    from .plans import temporal

    return temporal.first_conversion_episode(_t("events")(spark, sf))


def _q_daily_gapfill(spark, sf):
    from .plans import temporal

    return temporal.daily_gapfill(_t("events")(spark, sf))


def _q_nb_lang_scores(spark, sf):
    from .operators import classifier

    return classifier.nb_lang_scores(_t("documents")(spark, sf))


def _q_jl_project(spark, sf):
    return similarity.jl_project(_t("embeddings")(spark, sf))


def _q_pq_codes(spark, sf):
    return similarity.pq_codes(_t("embeddings")(spark, sf))


def _q_pq_ann_topk(spark, sf):
    return similarity.pq_ann_topk(_t("embeddings")(spark, sf))


def _q_pq_ann_rerank(spark, sf):
    return similarity.pq_ann_rerank(_t("embeddings")(spark, sf))


def _q_ivf_pq_topk(spark, sf):
    return similarity.ivf_pq_topk(_t("embeddings")(spark, sf))


def _q_fuzzy_name_pairs(spark, sf):
    return entity.fuzzy_name_pairs(_t("customer")(spark, sf))


def _q_entity_merge_groups(spark, sf):
    return entity.entity_merge_groups(_t("customer")(spark, sf))


def _q_block_profile(spark, sf):
    return entity.block_profile(_t("customer")(spark, sf))


def _q_simhash_near_pairs(spark, sf):
    return dedup.simhash_near_pairs(_t("documents")(spark, sf))


def _q_token_counts(spark, sf):
    return text.token_counts(_t("documents")(spark, sf))


def _q_lang_id(spark, sf):
    return text.lang_id(_t("documents")(spark, sf))


def _q_quality_scores(spark, sf):
    return text.quality_scores_int(_t("documents")(spark, sf))


def _q_t_closeness_report(spark, sf):
    return text.t_closeness_report(_t("documents")(spark, sf))


def _q_epoch_mixture(spark, sf):
    from .operators.sampling import epoch_mixture

    return epoch_mixture(_t("documents")(spark, sf))


def _q_doc_fingerprints(spark, sf):
    return text.doc_fingerprints(_t("documents")(spark, sf))


def _q_repetition_scores(spark, sf):
    return text.repetition_scores_int(_t("documents")(spark, sf))


def _q_char_entropy(spark, sf):
    return text.char_entropy(_t("documents")(spark, sf))


def _q_sentence_chunks(spark, sf):
    return text.sentence_chunks(_t("documents")(spark, sf))


def _q_curated_corpus(spark, sf):
    return text.curated_corpus_int(_t("documents")(spark, sf))


def _q_source_overlap_matrix(spark, sf):
    return text.source_overlap_matrix(_t("documents")(spark, sf))


def _q_budgeted_mixture(spark, sf):
    return text.budgeted_mixture(_t("documents")(spark, sf))


def _q_contamination_report(spark, sf):
    return text.contamination_report(_t("documents")(spark, sf))


def _q_decontaminate(spark, sf):
    return text.decontaminate_int(_t("documents")(spark, sf))


def _q_pii_scrub(spark, sf):
    return text.pii_scrub(_t("documents")(spark, sf))


def _q_multimodal_thumbnails(spark, sf):
    """Resize plumbing surfaced numerically: the binary thumbnail
    column stays out of the oracle compare; its byte length is the
    checkable proxy."""
    from .operators.multimodal import attach_fake_payload, resize_thumbnails

    t = resize_thumbnails(attach_fake_payload(_t("documents")(spark, sf)))
    return t.select(
        "doc_id",
        "width",
        "height",
        "thumb_width",
        "thumb_height",
        F.octet_length("thumb_bytes").alias("thumb_n_bytes"),
    )


def _q_multimodal_features(spark, sf):
    return multimodal.multimodal_features(_t("documents")(spark, sf))


def _q_multimodal_frames(spark, sf):
    return multimodal.multimodal_frames(_t("documents")(spark, sf))


def _q_top_bigrams(spark, sf):
    return text.top_bigrams(_t("documents")(spark, sf))


def _q_tfidf_top_terms(spark, sf):
    return text.tfidf_top_terms_int(_t("documents")(spark, sf))


def _q_bigram_surprisal(spark, sf):
    return text.bigram_surprisal(_t("documents")(spark, sf))


def _q_unigram_surprisal(spark, sf):
    return text.unigram_surprisal(_t("documents")(spark, sf))


def _q_sequence_packing(spark, sf):
    from .operators.packing import sequence_packing

    return sequence_packing(_t("documents")(spark, sf))


def _q_doc_chunks(spark, sf):
    """Chunk sizes scaled to the fixture docs (~50 words) so multiple
    overlapping chunks exist per document."""
    from .operators.packing import doc_chunks

    return doc_chunks(_t("documents")(spark, sf), chunk_tokens=16, overlap=4)


def _q_packing_efficiency(spark, sf):
    from .operators.packing import packing_efficiency, sequence_packing

    return packing_efficiency(sequence_packing(_t("documents")(spark, sf)))


def _q_vocabulary(spark, sf):
    """Vocabulary extraction with a min-document-frequency floor —
    the tokenizer-training preflight."""
    docs = _t("documents")(spark, sf)
    from .operators.textprep import words

    toks = docs.select("doc_id", F.explode(words("text")).alias("term")).distinct()
    df_counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    all_tf = (
        docs.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("total_tf"))
    )
    return (
        df_counts.join(all_tf, "term")
        .filter(F.col("doc_freq") >= 2)
        .select("term", "doc_freq", "total_tf")
    )


def _q_embedding_quantize(spark, sf):
    """Scalar int8 quantization: per-vector symmetric scale
    (max_abs/127), emitted as (vec_id, dim, qval) rows plus the scale
    — the storage-compression preflight for large vector corpora."""
    emb = _t("embeddings")(spark, sf)
    # greatest(…, 1e-12) guards the all-zero vector (0/0 → NaN);
    # same guard as operators/similarity.knn_int8
    max_abs = F.greatest(
        F.round(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
            6,
        ),
        F.lit(1e-12),
    )
    exploded = emb.select(
        "vec_id",
        max_abs.alias("scale"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    return exploded.select(
        "vec_id",
        "scale",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * 127.0 / F.col("scale"), 0)
        .cast("int")
        .alias("qval"),
    )


def _q_curation_scores(spark, sf):
    """Cross-modal curation: join text quality with embedding norm
    (doc_id == vec_id in the fixtures) into one keep/drop score.
    Integer contract (r08 migration): quality and norm stay RAW
    doubles through the join — micro() quantizes each final column
    once, never micro(ROUND(x)) which would re-inherit ROUND's
    cross-engine tie hazard."""
    from .operators.text import _quality_raw_column
    from .functions.vector import l2_norm as _l2

    q = _t("documents")(spark, sf).select(
        "doc_id", _quality_raw_column().alias("__q")
    )
    n = _t("embeddings")(spark, sf).select(
        F.col("vec_id").alias("doc_id"), _l2(F.col("embedding")).alias("__n")
    )
    return q.join(n, "doc_id").select(
        "doc_id",
        pmicro(F.col("__q")).alias("quality_micro"),
        pmicro(F.col("__n")).alias("l2_norm_micro"),
        pmicro(F.col("__q") * F.col("__n")).alias("curation_score_micro"),
    )


def _q_profile_documents(spark, sf):
    """Per-source dataset card for the training corpus: volume, token
    length distribution (exact percentiles — swap percentile_approx
    at 100 TB), language spread. One shuffle on source.

    micro(AVG(nt)) is order-independent despite the double AVG:
    integer token counts sum exactly in doubles below 2^53, and the
    single final division is one IEEE op — no partial-sum-order
    hazard (unlike AVG over fractional doubles)."""
    docs = _t("documents")(spark, sf)
    nt = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
    t = docs.select("source", "lang", nt.alias("nt"))
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        pmicro(F.avg("nt")).alias("avg_tokens_micro"),
        pmicro(F.expr("percentile(nt, 0.5)")).alias("p50_tokens_micro"),
        pmicro(F.expr("percentile(nt, 0.9)")).alias("p90_tokens_micro"),
        F.countDistinct("lang").alias("n_langs"),
    )


def _q_profile_events(spark, sf):
    """Dataset profiling: per-column null/distinct/min/max — the
    preflight every ingestion pipeline runs."""
    ev = _t("events")(spark, sf)
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_value"),
        F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.countDistinct("event_type").alias("distinct_types"),
        pmicro(F.min("value")).alias("min_value_micro"),
        pmicro(F.max("value")).alias("max_value_micro"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def _q_embedding_norms(spark, sf):
    return similarity.embedding_norms(_t("embeddings")(spark, sf))


# ---------------------------------------------------------------- similarity


def _q_knn_bruteforce(spark, sf):
    return similarity.knn_bruteforce(_t("embeddings")(spark, sf))


def _q_knn_int8(spark, sf):
    return similarity.knn_int8(_t("embeddings")(spark, sf))


def _q_knn_pandas(spark, sf):
    return similarity.knn_bruteforce_pandas(_t("embeddings")(spark, sf))


def _q_corpus_funnel(spark, sf):
    return text.corpus_funnel(_t("documents")(spark, sf))


def _q_corpus_funnel_by_source(spark, sf):
    return text.corpus_funnel_by_source(_t("documents")(spark, sf))


def _q_curation_drop_reasons(spark, sf):
    return text.curation_drop_reasons(_t("documents")(spark, sf))


def _q_quality_thresholds(spark, sf):
    return text.quality_thresholds(_t("documents")(spark, sf))


def _q_bpe_merge_candidates(spark, sf):
    return text.bpe_merge_candidates(_t("documents")(spark, sf))


def _q_daily_anomaly_scores(spark, sf):
    return analytics.daily_anomaly_scores(_t("events")(spark, sf))


def _q_event_type_correlations(spark, sf):
    return analytics.event_type_correlations(_t("events")(spark, sf))


def _q_robust_value_stats(spark, sf):
    return analytics.robust_value_stats(_t("events")(spark, sf))


def _q_seasonal_daily_decompose(spark, sf):
    return analytics.seasonal_daily_decompose(_t("events")(spark, sf))


def _q_event_transitions(spark, sf):
    return temporal.event_transitions(_t("events")(spark, sf))


def _q_top_session_paths(spark, sf):
    return analytics.top_session_paths(_t("events")(spark, sf))


def _q_rolling_active_users(spark, sf):
    return analytics.rolling_active_users(_t("events")(spark, sf))


def _q_sliding_event_counts(spark, sf):
    return temporal.sliding_event_counts(_t("events")(spark, sf))


def _q_dup_rate_by_source(spark, sf):
    return dedup.dup_rate_by_source(_t("documents")(spark, sf))


def _q_copurchase_pairs(spark, sf):
    return tpch.copurchase_pairs(_t("lineitem")(spark, sf))


def _q_copurchase_components(spark, sf):
    return tpch.copurchase_components(_t("lineitem")(spark, sf))


def _q_quality_psi_by_source(spark, sf):
    return text.quality_psi_by_source(_t("documents")(spark, sf))


def _q_l_diversity_report(spark, sf):
    return text.l_diversity_report(_t("documents")(spark, sf))


def _q_daily_changepoint(spark, sf):
    return analytics.daily_changepoint(_t("events")(spark, sf))


def _q_bloom_filtered_join(spark, sf):
    """Runtime-filter demo with an EXTERNAL correctness row: orders
    of high-balance customers, with the fact side pre-pruned by
    ``scale.bloom_prefilter`` before the join. Because the filter
    has no false negatives, the result is EXACTLY the plain join —
    which is what the oracle runs, so the driver's hash compare
    certifies the runtime-filter's losslessness every round."""
    from .operators.scale import bloom_prefilter

    orders = _t("orders")(spark, sf)
    custs = (
        _t("customer")(spark, sf)
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
    )
    pre = bloom_prefilter(orders, custs, "o_custkey", "c_custkey")
    return pre.join(
        custs, pre.o_custkey == custs.c_custkey
    ).select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def _q_weekly_distinct_users_hll(spark, sf):
    return _sketch.weekly_distinct_users_hll(_t("events")(spark, sf))


def _q_daily_distinct_users_hll(spark, sf):
    return _sketch.daily_distinct_users_hll(_t("events")(spark, sf))


def _q_zipf_fit(spark, sf):
    return text.zipf_fit(_t("documents")(spark, sf))


def _q_ab_test_report(spark, sf):
    return analytics.ab_test_report(_t("events")(spark, sf))


def _q_conversion_lag_stats(spark, sf):
    return temporal.conversion_lag_stats(_t("events")(spark, sf))


def _q_sample_k_per_group(spark, sf):
    return sampling.sample_k_per_group(_t("documents")(spark, sf))


def _q_k_anonymity_violations(spark, sf):
    return text.k_anonymity_violations(_t("documents")(spark, sf))


def _q_k_anonymity_report(spark, sf):
    return text.k_anonymity_report(_t("documents")(spark, sf))


def _q_copurchase_graph_stats(spark, sf):
    return tpch.copurchase_graph_stats(_t("lineitem")(spark, sf))


def _q_hll_registers(spark, sf):
    return _sketch.hll_registers(_t("events")(spark, sf))


def _q_hll_distinct_users(spark, sf):
    return _sketch.hll_distinct_users(_t("events")(spark, sf))


def _q_linear_attribution(spark, sf):
    return temporal.linear_attribution(_t("events")(spark, sf))


def _q_value_psi_by_type(spark, sf):
    return analytics.value_psi_by_type(_t("events")(spark, sf))


def _q_pmi_collocations(spark, sf):
    return text.pmi_collocations(_t("documents")(spark, sf))


def _q_bloom_bits(spark, sf):
    return _sketch.bloom_bits(_t("documents")(spark, sf))


def _q_bloom_admission(spark, sf):
    """Same fixture split as incremental_dedup (doc_id % 5 == 0 is
    the new batch): the Bloom gate screens the batch against an
    m-bit summary of the corpus instead of the corpus itself."""
    docs = _t("documents")(spark, sf)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return _sketch.bloom_admission(new, corpus)


def _q_rfm_segments(spark, sf):
    return analytics.rfm_segments(_t("events")(spark, sf))


def _q_decayed_user_value(spark, sf):
    return analytics.decayed_user_value(_t("events")(spark, sf))


def _q_semantic_dedup(spark, sf):
    return similarity.semantic_dedup(_t("embeddings")(spark, sf))


def _q_hard_negatives(spark, sf):
    return similarity.hard_negatives(_t("embeddings")(spark, sf))


def _q_gopher_quality_flags(spark, sf):
    return text.gopher_quality_flags(_t("documents")(spark, sf))


def _q_balanced_shards(spark, sf):
    return packing.balanced_shards(_t("documents")(spark, sf))


def _q_shard_balance(spark, sf):
    return packing.shard_balance(_t("documents")(spark, sf))


def _q_shard_manifest(spark, sf):
    return packing.shard_manifest(_t("documents")(spark, sf))


def _q_epoch_shuffle(spark, sf):
    """Deterministic epoch-0 training-shard permutation (VERDICT r07
    #4): portable-hash rank with bucket-decomposed offsets — no
    global sort; the oracle IS the global ORDER BY of the same
    hash."""
    return packing.epoch_shuffle(_t("documents")(spark, sf))


def _q_cluster_silhouette(spark, sf):
    """Simplified-silhouette cell-quality meter over the k-means
    assignment (VERDICT r07 #5) — certified against the unrolled
    Lloyd CTE oracle extended with the centroid-distance scoring."""
    from .operators.clustering import cluster_silhouette

    return cluster_silhouette(_t("embeddings")(spark, sf))


def _q_silhouette_by_k(spark, sf):
    """Choose-K elbow sweep over the silhouette meter (r08 ADVICE:
    the corpus mean is the exact per-point integer mean, not a
    reconstruction from floored per-cluster means) — certified
    against the per-K UNION ALL of the Lloyd-CTE oracle re-aggregated
    corpus-wide."""
    from .operators.clustering import silhouette_by_k

    return silhouette_by_k(_t("embeddings")(spark, sf))


def _q_grouping_sets(spark, sf):
    _t("events")(spark, sf).createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
               CAST(SUM(FLOOR(value * 100 + 0.5)) AS BIGINT) AS total_sales_cents
        FROM events_v
        GROUP BY GROUPING SETS ((event_type), (CAST(dayofweek(ts) AS INT)))
        """
    )


def _q_distinct_user_event_pairs(spark, sf):
    return (
        _t("events")(spark, sf)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def _q_ann_lsh_topk(spark, sf):
    return similarity.ann_lsh_topk(_t("embeddings")(spark, sf))


def _q_ann_lsh_multiprobe(spark, sf):
    return similarity.ann_lsh_multiprobe(_t("embeddings")(spark, sf))


def _q_mmr_select(spark, sf):
    return similarity.mmr_select(_t("embeddings")(spark, sf))


def _q_kn_bigram_surprisal(spark, sf):
    return text.kn_bigram_surprisal(_t("documents")(spark, sf))


def _q_kn_trigram_surprisal(spark, sf):
    """Interpolated trigram Kneser-Ney surprisal (VERDICT r07 #6) —
    registered at the head of the r09 rotation queue (the r08 window
    filled with the migration block)."""
    return text.kn_trigram_surprisal(_t("documents")(spark, sf))


def _q_salted_segment_revenue(spark, sf):
    """The explicit skew-salting pattern carrying an external
    correctness row: fact (events keyed by user) sprays across 8
    salts, the customer dim replicates — output must equal the plain
    join exactly (salt never appears in the result). At fixture scale
    Catalyst would broadcast this dim anyway; the row certifies VALUE
    equality of the pattern, the plan test in tests/test_scale.py
    certifies its shape on a forced shuffle join."""
    from .operators.scale import salted_join

    ev = _t("events")(spark, sf).select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    cust = _t("customer")(spark, sf).select("c_custkey", "c_mktsegment")
    return (
        salted_join(ev, cust, "c_custkey", salt=8)
        .groupBy("c_mktsegment")
        # per-row cents BEFORE the sum: integer addition is order-
        # independent, so the salted plan can never drift from the
        # plain-join oracle by float addition order
        .agg(
            F.sum(pmicro(F.col("value"), 100)).alias("total_value_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _q_pareto_revenue_share(spark, sf):
    return analytics.pareto_revenue_share(_t("events")(spark, sf))


def _q_time_of_week_profile(spark, sf):
    return analytics.time_of_week_profile(_t("events")(spark, sf))


def _q_user_lifecycle_stages(spark, sf):
    return analytics.user_lifecycle_stages(_t("events")(spark, sf))


def _q_kmv_quantiles_by_type(spark, sf):
    return _sketch.kmv_value_quantiles_by_type(_t("events")(spark, sf))


def _q_corpus_datasheet(spark, sf):
    return text.corpus_datasheet(_t("documents")(spark, sf))


def _q_ivf_recall_report(spark, sf):
    return similarity.ivf_recall_report(_t("embeddings")(spark, sf))


def _q_join_fanout_topk(spark, sf):
    """The two-sided fanout pre-flight on the events⋈events self-join
    key (user_id is the only key here with real fanout on both
    sides)."""
    from .operators.scale import join_fanout_topk

    ev = _t("events")(spark, sf)
    return join_fanout_topk(ev, ev, "user_id", "user_id")


def _q_basket_rules(spark, sf):
    return tpch.basket_rules(_t("lineitem")(spark, sf))


def _q_rfm_migration(spark, sf):
    return analytics.rfm_migration(_t("events")(spark, sf))


def _q_position_attribution(spark, sf):
    return temporal.position_attribution(_t("events")(spark, sf))


def _q_embedding_outliers(spark, sf):
    return similarity.embedding_outliers(_t("embeddings")(spark, sf))


def _q_cohort_ltv(spark, sf):
    return analytics.cohort_ltv(_t("events")(spark, sf))


def _q_kmv_value_quantiles(spark, sf):
    return _sketch.kmv_value_quantiles(_t("events")(spark, sf))


def _q_conversion_survival(spark, sf):
    return temporal.conversion_survival(_t("events")(spark, sf))


def _q_quality_matched_sample(spark, sf):
    from .operators.sampling import quality_matched_sample

    return quality_matched_sample(_t("documents")(spark, sf))


def _q_events_profile(spark, sf):
    from .operators.scale import table_profile

    return table_profile(
        _t("events")(spark, sf),
        ["event_id", "user_id", "event_type", "value"],
    )



def _q_boilerplate_lines(spark, sf):
    return text.boilerplate_lines(_t("documents")(spark, sf))


def _q_line_dedup(spark, sf):
    return text.line_dedup(_t("documents")(spark, sf))


def _q_token_waterfill(spark, sf):
    return sampling.token_waterfill(_t("documents")(spark, sf))



def _q_boilerplate_shingles(spark, sf):
    return text.boilerplate_shingles(_t("documents")(spark, sf))



def _q_strip_boilerplate(spark, sf):
    return text.strip_boilerplate(_t("documents")(spark, sf))



def _q_quality_ks_by_source(spark, sf):
    return text.quality_ks_by_source(_t("documents")(spark, sf))



def _q_value_benford_by_type(spark, sf):
    return analytics.value_benford_by_type(_t("events")(spark, sf))



def _q_value_ks_by_type(spark, sf):
    return analytics.value_ks_by_type(_t("events")(spark, sf))


def _q_ann_lsh_planned(spark, sf):
    """The scale path itself: (n_planes, n_bands) sized by
    lsh_plan_for from the actual corpus size (one count() job at
    plan-construction time — eager, like user_value_quartiles). The
    static oracle assumes the verify fixtures' corpus stays under
    2*target_bucket_rows, where the plan is (1, 1); the assertion
    below makes a fixture growth loud instead of a silent hash
    mismatch."""
    emb = _t("embeddings")(spark, sf)
    plan = similarity.lsh_plan_for(emb.count())
    assert plan == (1, 1), f"fixture outgrew the static oracle: {plan}"
    return similarity.ann_lsh_topk(emb, n_planes=plan[0], n_bands=plan[1])


def _q_label_centroids(spark, sf):
    return similarity.label_centroids_int(_t("embeddings")(spark, sf))


def _q_corpus_diversity(spark, sf):
    return similarity.corpus_diversity(_t("embeddings")(spark, sf))


def _q_embedding_drift(spark, sf):
    """Fixture snapshots: even vec_ids = old export, odd = new."""
    emb = _t("embeddings")(spark, sf)
    return similarity.embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
    )


def _q_ivf_topk(spark, sf):
    return similarity.ivf_topk(_t("embeddings")(spark, sf))


def _q_kmeans_sizes(spark, sf):
    """Iterative Lloyd k-means with engine-portable determinism
    (quantized centroids/distances) — certified against the unrolled
    per-iteration CTE oracle (clustering.kmeans_oracle_sql), the same
    pattern as supplier_pagerank. The NumPy-reference equivalence
    lives in tests/test_kmeans.py."""
    from .operators.clustering import kmeans_sizes

    return kmeans_sizes(_t("embeddings")(spark, sf))


def _q_embedding_near_dup(spark, sf):
    return similarity.embedding_near_dup_pairs(_t("embeddings")(spark, sf))


# ================================================================ oracle SQL
# Shared fragments — generated from the same constants as the Spark plans.

_SHINGLES = sql_word_shingles("text")  # word 3-grams
_WORDS = sql_words("text")

_SIG_COLS = ",\n  ".join(
    f"list_min(list_transform(generate_series(1, len(h1s)), "
    f"j -> (h1s[j] + {i} * h2s[j]) % {dedup.MINHASH_PRIME})) AS mh{i}"
    for i in range(dedup.NUM_HASHES)
)
_SIG_CTE = f"""
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
hs AS (SELECT doc_id,
         list_transform(shingles, s -> {sql_hash32('s', salt='mh', half=0)}) AS h1s,
         list_transform(shingles, s -> {sql_hash32('s', salt='mh', half=1)}) AS h2s
       FROM sh),
sig AS (SELECT doc_id,
  {_SIG_COLS}
FROM hs)
"""

# lsh_recall_sampled: identical signature pipeline, but the corpus is
# first cut to the deterministic 1-in-2 portable-hash sample (the
# sampled truth keeps the meter linear-budget on corpora too large
# for the exact prefix join).
_SAMPLE_PRED = (
    f"{sql_hash32('CAST(doc_id AS VARCHAR)', salt='rs')} % 2 = 0"
)
_SIG_CTE_SAMPLED = _SIG_CTE.replace(
    "FROM documents", f"FROM documents WHERE {_SAMPLE_PRED}"
)

_ROWS_PER_BAND = dedup.NUM_HASHES // dedup.NUM_BANDS
_BANDS_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bucket FROM sig".format(
        b=b,
        cols=", ".join(
            f"CAST(mh{b * _ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(dedup.NUM_BANDS)
)

# Integer-contract jaccard (r08 migration of the r03 block; the last
# legacy ROUND holdout, prefix_jaccard_pairs, migrated on its r09
# rotation — no ROUND-encoded jaccard remains anywhere): jac ships
# jaccard_micro = FLOOR(raw_ratio * 1e6 + 0.5) BIGINT and every
# threshold compares on the same integer grid, mirroring the Spark
# side's micro() encoding — no cross-engine tie-behavior exposure.
_JAC_T = int(round(dedup.JACCARD_THRESHOLD * 1_000_000))
_PREFIX_T = int(round(dedup.PREFIX_JOIN_THRESHOLD * 1_000_000))
_JACCARD_CTES_INT = f"""
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT i.doc_a, i.doc_b,
               CAST(FLOOR(CAST(i.n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - i.n_inter) * 1000000 + 0.5) AS BIGINT)
                 AS jaccard_micro
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b)
"""

# ngram_jaccard_pairs twin: same df ceiling as the Spark plan — hot
# shingles (df > frac·n_docs) are dropped before the self-join AND
# from the set sizes.
_CAPPED_JACCARD_CTES = f"""
ds0 AS (SELECT DISTINCT doc_id, s AS shingle
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
hot AS (SELECT shingle
        FROM (SELECT shingle, COUNT(*) AS df FROM ds0 GROUP BY 1) d, nd
        WHERE d.df > {dedup.NGRAM_MAX_DF_FRAC} * nd.n_docs),
ds AS (SELECT doc_id, shingle FROM ds0
       WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jac AS (SELECT i.doc_a, i.doc_b,
               CAST(FLOOR(CAST(i.n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - i.n_inter) * 1000000 + 0.5) AS BIGINT)
                 AS jaccard_micro
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b)
"""

# 64-bit SimHash as two 32-bit halves: bits 0-31 vote from md5 half 0
# (h1), bits 32-63 from half 1 (h2) — mirrors operators/dedup.simhash.
_SIMHASH_HALF = dedup.SIMHASH_BITS // 2
_SIMHASH_CTE = f"""
toks AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
th AS (SELECT doc_id,
         {sql_hash32('tok', salt='simhash', half=0)} AS h1,
         {sql_hash32('tok', salt='simhash', half=1)} AS h2
       FROM toks),
bits AS (SELECT doc_id, b,
                SUM(CASE WHEN (CASE WHEN b < {_SIMHASH_HALF}
                                    THEN (h1 >> b) & 1
                                    ELSE (h2 >> (b - {_SIMHASH_HALF})) & 1 END) = 1
                         THEN 1 ELSE -1 END) AS s
         FROM th CROSS JOIN (SELECT unnest(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS b)
         GROUP BY 1, 2),
sim AS (SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 AND b >= {_SIMHASH_HALF}
                             THEN (CAST(1 AS BIGINT) << (b - {_SIMHASH_HALF})) ELSE 0 END) AS BIGINT) AS simhash_hi,
               CAST(SUM(CASE WHEN s > 0 AND b < {_SIMHASH_HALF}
                             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash_lo
        FROM bits GROUP BY 1)
"""

_SIMHASH_MASK = (1 << dedup.SIMHASH_BAND_BITS) - 1
_SIMHASH_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, simhash_hi, simhash_lo, {k} AS k, "
    "(({src} >> {rel}) & {mask}) AS bandval FROM sim".format(
        k=k,
        src="simhash_lo" if k * dedup.SIMHASH_BAND_BITS < _SIMHASH_HALF else "simhash_hi",
        rel=(k * dedup.SIMHASH_BAND_BITS) % _SIMHASH_HALF,
        mask=_SIMHASH_MASK,
    )
    for k in range(dedup.SIMHASH_BITS // dedup.SIMHASH_BAND_BITS)
)


# media aHash: the 8x8 mean-downsample grid, mean-threshold bits, and
# two-halves packing — mirrors operators/multimodal.py::media_ahash.
from .operators import multimodal as _mm  # noqa: E402

_AHASH_POS = "CAST(1 + FLOOR(i * len(cs) / 64.0) AS BIGINT)"
_AHASH_CLEN = "GREATEST(1, CAST(FLOOR(len(cs) / 64.0) AS BIGINT))"
_AHASH_SLICE_SQL = (
    f"list_slice(cs, {_AHASH_POS}, {_AHASH_POS} + {_AHASH_CLEN} - 1)"
)
_AHASH_CELL_SQL = (
    f"CASE WHEN len({_AHASH_SLICE_SQL}) > 0 THEN "
    f"CAST(list_sum(list_transform({_AHASH_SLICE_SQL}, c -> ascii(c))) "
    f"// len({_AHASH_SLICE_SQL}) AS BIGINT) ELSE 0 END"
)
_AHASH_CTE = f"""
ac AS (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs FROM documents),
ap AS (SELECT doc_id,
              list_transform(generate_series(0, 63), i -> {_AHASH_CELL_SQL})
                AS pix
       FROM ac),
att AS (SELECT doc_id, pix, list_sum(pix) AS tot FROM ap),
ah AS (SELECT doc_id,
  CAST(list_sum(list_transform(generate_series(32, 63),
       i -> CASE WHEN 64 * pix[i + 1] >= tot
                 THEN CAST(POW(2, i - 32) AS BIGINT) ELSE 0 END))
       AS BIGINT) AS ahash_hi,
  CAST(list_sum(list_transform(generate_series(0, 31),
       i -> CASE WHEN 64 * pix[i + 1] >= tot
                 THEN CAST(POW(2, i) AS BIGINT) ELSE 0 END))
       AS BIGINT) AS ahash_lo
  FROM att)
"""
_AHASH_MASK = (1 << 8) - 1
_AHASH_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, ahash_hi, ahash_lo, {k} AS k, "
    "(({src} >> {rel}) & {mask}) AS bandval FROM ah".format(
        k=k,
        src="ahash_lo" if k * 8 < 32 else "ahash_hi",
        rel=(k * 8) % 32,
        mask=_AHASH_MASK,
    )
    for k in range(8)
)


def _lsh_weights_sql(p: int) -> str:
    vals = ", ".join(
        str(similarity.plane_weight(p, d)) for d in range(similarity.EMB_DIM)
    )
    return f"[{vals}]"


def _bucket_sql(emb: str, n_planes: int | None = None) -> str:
    terms = []
    for p in range(n_planes or similarity.N_PLANES):
        proj = (
            f"list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}), "
            f"d -> CAST({emb}[d] AS DOUBLE) * ({_lsh_weights_sql(p)})[d]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_EN_SW = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)

_LANG_SCORES = ",\n  ".join(
    "CAST(len(list_filter({w}, x -> x IN ({m}))) AS INT) AS score_{lang}".format(
        w=_WORDS, m=", ".join(f"'{s}'" for s in markers), lang=lang
    )
    for lang, markers in text.LANG_PROFILES.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"score_{lg}" for lg in text.LANG_PROFILES) + ")"
_LANG_PRED = (
    "CASE WHEN " + _LANG_BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lg} = {_LANG_BEST} THEN '{lg}'" for lg in text.LANG_PROFILES
    )
    + " END"
)

_PIVOT_COLS = ",\n  ".join(
    f"ROUND(SUM(CASE WHEN event_type = '{t}' THEN value END), 2) AS {t}_value"
    for t in ("click", "view", "purchase", "signup", "error")
)

# pii_scrub: the DuckDB twin of operators.text.pii_scrub, built from the
# SAME pattern constants so the regexes can never drift apart.
_DENY_RE = r"\b(" + "|".join(text.PII_DENYLIST) + r")\b"
_SCRUBBED_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{text.PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{text.PII_PHONE}', '<PHONE>', 'g'), "
    f"'{_DENY_RE}', '<REDACTED>', 'g')"
)

_FUNNEL_CTE = rf"""
WITH m0 AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
         {_WORDS} AS ws
  FROM documents),
q AS (
  SELECT doc_id, source, h, CAST(n_tok AS BIGINT) AS n_tokens,
         ROUND(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
               - 8.0 * (n_punct / n_chars)
               - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))), 6) AS quality,
         (CAST(len(ws) AS BIGINT) >= {text.GOPHER_MIN_WORDS}
          AND CAST(len(ws) AS BIGINT) <= {text.GOPHER_MAX_WORDS}
          AND (CAST(list_sum(list_transform(ws, x -> strlen(x))) AS BIGINT)
               * 1000000) // len(ws) >= {text.GOPHER_MIN_MEAN_WORD_LEN_MICRO}
          AND (CAST(list_sum(list_transform(ws, x -> strlen(x))) AS BIGINT)
               * 1000000) // len(ws) <= {text.GOPHER_MAX_MEAN_WORD_LEN_MICRO}
          AND (CAST(len(list_distinct(ws)) AS BIGINT) * 1000000) // len(ws)
              >= {text.GOPHER_MIN_UNIQUE_FRAC_MICRO}
          AND CAST(len(list_filter(ws, x -> x IN ({_EN_SW}))) AS BIGINT)
              >= {text.GOPHER_MIN_STOP_HITS}) AS rules_ok
  FROM m0),
win AS (SELECT h, MIN(doc_id) AS keep_id FROM q WHERE rules_ok GROUP BY h),
b2 AS (SELECT q.*, (q.rules_ok AND q.doc_id = w.keep_id) AS dedup_ok
       FROM q LEFT JOIN win w ON q.h = w.h),
sh_tbl AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM documents),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 = 0),
train AS (
  SELECT doc_id, unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 <> 0),
dec AS (
  SELECT train.doc_id AS doc_id,
         ROUND(CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS contamination_frac
  FROM train LEFT JOIN eval_sh e ON train.s = e.s
  GROUP BY 1),
b3 AS (SELECT b2.*, (b2.dedup_ok AND b2.doc_id % 20 <> 0
                     AND COALESCE(d.contamination_frac, 1.0) <= 0.9) AS decontam_ok
       FROM b2 LEFT JOIN dec d ON b2.doc_id = d.doc_id),
cum AS (SELECT doc_id,
               CAST(SUM(n_tokens) OVER (PARTITION BY source
                    ORDER BY quality DESC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM b3 WHERE decontam_ok),
b4 AS (SELECT b3.*, (b3.decontam_ok
                     AND COALESCE(c.cum_tokens, 9223372036854775807) <= 1000)
               AS budget_ok
       FROM b3 LEFT JOIN cum c ON b3.doc_id = c.doc_id),
"""

# PQ shared oracle fragments: sampled codebook (subvectors of the
# lowest-id vectors), per-(vector, subspace) argmin, and the ADC
# distance table — mirrors operators/similarity exactly.
_PQ_CORE = f"""WITH dims AS (SELECT vec_id, CAST(v AS DOUBLE) AS v,
                     CAST(dim AS INT) - 1 AS d0
              FROM (SELECT vec_id, unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings)),
seeds AS (SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
          FROM embeddings ORDER BY vec_id LIMIT {similarity.PQ_N_CODES}),
cbarr AS (SELECT CAST(d.d0 // {similarity.PQ_SUB_DIM} AS INT) AS m, s.code,
                 list(d.v ORDER BY d.d0) AS cw
          FROM dims d JOIN seeds s ON s.vec_id = d.vec_id
          GROUP BY 1, 2),
sub AS (SELECT vec_id, CAST(d0 // {similarity.PQ_SUB_DIM} AS INT) AS m,
               list(v ORDER BY d0) AS sub
        FROM dims GROUP BY 1, 2),
d AS (SELECT s.vec_id, s.m, c.code,
             list_reduce(list_transform(generate_series(1, {similarity.PQ_SUB_DIM}),
               i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i])),
               (x, y) -> x + y) AS d2
      FROM sub s JOIN cbarr c ON c.m = s.m)"""

_PQ_CODES = """codes AS (SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2 ASC, code ASC) AS rk
            FROM d)
          WHERE rk = 1)"""

_PQ_DT = f"""dt AS (SELECT s.vec_id AS query_id, s.m, c.code,
              CAST(ROUND(list_reduce(list_transform(generate_series(1, {similarity.PQ_SUB_DIM}),
                i -> (s.sub[i] - c.cw[i]) * (s.sub[i] - c.cw[i])),
                (x, y) -> x + y) * 1000000.0, 0) AS BIGINT) AS d2u
       FROM sub s JOIN cbarr c ON c.m = s.m
       WHERE s.vec_id < {similarity.DEFAULT_N_QUERIES})"""

_PQ_ADC = f"""{_PQ_CODES},
{_PQ_DT},
scored AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
                  ROUND(SUM(dt.d2u) / 1000000.0, 6) AS adc_d2
           FROM codes JOIN dt ON dt.m = codes.m AND dt.code = codes.code
           WHERE codes.vec_id != dt.query_id
           GROUP BY 1, 2)"""

# IVF routing fragment shared by ivf_pq: label centroids as the
# coarse quantizer, per-vector cell assignment, per-query n_probe
# routed cells — identical ordering/tie-breaks to ivf_ann_topk's
# oracle.
_IVF_ROUTE = f"""cent AS (SELECT label, CAST(dim AS INT) AS dim,
                     ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
              FROM (SELECT label, unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings)
              GROUP BY 1, 2),
cent_arr AS (SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label),
cdists AS (SELECT e.vec_id, c.label,
                  list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                    (x, y) -> x + y) AS cd2
           FROM embeddings e CROSS JOIN cent_arr c),
cranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cd2 ASC, label ASC) AS crk
            FROM cdists),
assign AS (SELECT vec_id, label AS cell FROM cranked WHERE crk = 1),
qroute AS (SELECT vec_id AS query_id, label AS cell
           FROM cranked
           WHERE vec_id < {similarity.DEFAULT_N_QUERIES}
             AND crk <= {similarity.IVF_N_PROBE})"""

ORACLES: dict[str, str] = {
    "raw_transactions": """
SELECT event_id AS transaction_id, ts AS transaction_ts, user_id AS customer_id,
       event_type AS category, value AS total_amount
FROM events
""",
    "sales_per_day": """
SELECT CAST(ts AS DATE) AS transaction_date,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents
FROM events GROUP BY 1
""",
    "sales_per_category": """
SELECT CAST(ts AS DATE) AS transaction_date, event_type AS category,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents
FROM events GROUP BY 1, 2
""",
    "sales_per_month": """
SELECT CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents
FROM events GROUP BY 1, 2
""",
    "sales_per_day_purchases": """
SELECT CAST(ts AS DATE) AS transaction_date,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents
FROM events WHERE event_type = 'purchase' GROUP BY 1
""",
    "category_stats": """
SELECT event_type AS category, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents,
       CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) // COUNT(*)
            AS BIGINT) AS avg_sale_micro,
       CAST(MIN(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS min_sale_cents,
       CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_sale_cents
FROM events GROUP BY 1
""",
    "props_extract": """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n_rows
FROM events GROUP BY 1
""",
    "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
    "q3_shipping_priority": """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    "q5_regional_revenue": """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE s_nationkey = c_nationkey
GROUP BY 1
""",
    "customer_order_totals": """
SELECT c_custkey, c_name, c_mktsegment, n_orders, total_spent
FROM (SELECT o_custkey, COUNT(*) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS total_spent
      FROM orders GROUP BY 1) j
JOIN customer ON j.o_custkey = c_custkey
""",
    "top10_orders": """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey ASC
LIMIT 10
""",
    "customers_without_orders": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    "orders_with_big_lineitem": """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000.0)
""",
    "parts_by_brand_type": """
SELECT p_brand, p_type, COUNT(*) AS n_parts,
       COUNT(DISTINCT p_size) AS n_sizes,
       ROUND(AVG(p_retailprice), 6) AS avg_price
FROM part GROUP BY 1, 2
""",
    "q2_min_cost_supplier": """
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         ROUND(MIN(l_extendedprice / l_quantity), 6) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT p_partkey, p_name, p_size, l_suppkey, unit_cost,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_partkey
                                 ORDER BY unit_cost ASC, l_suppkey ASC) AS INT) AS rk
  FROM pairs JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 10
)
SELECT p_partkey, p_name, p_size, s_name, unit_cost
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rk = 1
""",
    "q4_order_priority": """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY 1
""",
    "q6_revenue_forecast": """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24.0
""",
    "q7_volume_shipping": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(o_orderdate) AS INT) AS l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""",
    "q9_product_profit": """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2
""",
    "q10_returned_items": """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    "q13_order_distribution": """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON o_custkey = c_custkey
      GROUP BY 1) per_cust
GROUP BY 1
""",
    "q14_promo_revenue": """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
    "q17_small_quantity_revenue": """
WITH avg_q AS (
  SELECT l_partkey AS ap_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#3'
  GROUP BY 1
)
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN avg_q ON ap_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
""",
    "q18_large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING ROUND(SUM(l_quantity), 2) > 300.0
)
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
    "q19_disjunctive_revenue": """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
""",
    "q8_market_share": """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n2.n_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1
""",
    "q11_important_parts": """
WITH vals AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
)
SELECT l_partkey, CAST(ROUND(value_dec, 2) AS DOUBLE) AS part_value
FROM vals
WHERE CAST(value_dec AS DOUBLE)
      > CAST((SELECT SUM(value_dec) FROM vals) AS DOUBLE) * 0.001
""",
    "q12_priority_shipping": """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > o_orderdate
GROUP BY 1
""",
    "q15_top_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
    "q16_part_supplier_counts": """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 1000.0)
GROUP BY 1, 2, 3
""",
    "q20_promotion_suppliers": """
SELECT s_name, n_name AS nation
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(l_quantity) > 50.0
)
""",
    "q21_waiting_suppliers": """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                             THEN l_suppkey END) AS n_late_supp,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                  THEN l_suppkey END) AS sole_supp
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY 1
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order
JOIN supplier ON s_suppkey = sole_supp
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s_name ASC
LIMIT 100
""",
    "q22_sales_opportunity": """
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
""",
    "events_by_customer_segment": """
SELECT c_mktsegment, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
""",
    "revenue_by_brand": """
SELECT p_brand, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
    "top_users_per_event_type": """
WITH per_user AS (
  SELECT event_type, user_id, ROUND(SUM(value), 2) AS user_value
  FROM events GROUP BY 1, 2)
SELECT event_type, user_id, user_value, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY user_value DESC, user_id ASC) AS rk
      FROM per_user)
WHERE rk <= 5
""",
    "daily_running_revenue": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS day_value
  FROM events GROUP BY 1, 2)
SELECT event_type, d, day_value,
       ROUND(SUM(day_value) OVER (PARTITION BY event_type ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM daily
""",
    "user_sessions": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) IS NULL
                OR (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
with_sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged),
per_session AS (
  SELECT user_id, sess_id, COUNT(*) AS n_events FROM with_sess GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(FLOOR(AVG(n_events) * 1000000 + 0.5) AS BIGINT)
         AS avg_events_per_session_micro
FROM per_session GROUP BY 1
""",
    "session_window_stats": """
WITH o AS (SELECT user_id, ts,
             CASE WHEN (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) IS NULL
                    OR (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""",
    "conversion_funnel": """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1),
agg AS (SELECT
  CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS clicked,
  CAST(SUM(CASE WHEN t_click IS NOT NULL AND t_view > t_click THEN 1 ELSE 0 END) AS BIGINT) AS then_viewed,
  CAST(SUM(CASE WHEN t_click IS NOT NULL AND t_view > t_click AND t_purchase > t_view
            THEN 1 ELSE 0 END) AS BIGINT) AS then_purchased
FROM per_user)
SELECT '1_clicked' AS stage, clicked AS n_users FROM agg
UNION ALL SELECT '2_then_viewed', then_viewed FROM agg
UNION ALL SELECT '3_then_purchased', then_purchased FROM agg
""",
    "weekly_retention": """
WITH first_seen AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                    FROM events GROUP BY 1),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
SELECT CAST((CAST(d0 - DATE '2024-01-01' AS BIGINT)) // 7 AS INT) AS cohort_week,
       CAST((CAST(d - d0 AS BIGINT)) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM activity JOIN first_seen USING (user_id)
GROUP BY 1, 2
""",
    "retention_rates": """
WITH first_seen AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                    FROM events GROUP BY 1),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
m AS (
  SELECT CAST((CAST(d0 - DATE '2024-01-01' AS BIGINT)) // 7 AS INT) AS cohort_week,
         CAST((CAST(d - d0 AS BIGINT)) // 7 AS INT) AS week_offset,
         COUNT(DISTINCT user_id) AS n_users
  FROM activity JOIN first_seen USING (user_id)
  GROUP BY 1, 2),
sizes AS (SELECT cohort_week, n_users AS sz FROM m WHERE week_offset = 0)
SELECT m.cohort_week, m.week_offset, m.n_users,
       ROUND(CAST(m.n_users AS DOUBLE) / s.sz, 6) + 0.0 AS retention
FROM m JOIN sizes s ON m.cohort_week = s.cohort_week
""",
    "user_value_quartiles": """
WITH per_user AS (SELECT user_id,
                         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                              AS BIGINT) AS total_value_cents
                  FROM events GROUP BY 1)
SELECT user_id, total_value_cents,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       CAST(FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) AS BIGINT)
         AS pct_rank_micro,
       CAST(FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) AS BIGINT)
         AS cume_dist_micro
FROM per_user
WINDOW w AS (ORDER BY total_value_cents DESC, user_id ASC)
""",
    "weekly_moving_avg": """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      ROUND(SUM(value), 2) AS day_value
               FROM events GROUP BY 1, 2),
keyed AS (SELECT *, CAST(d - DATE '1970-01-01' AS BIGINT) AS day_num FROM daily)
SELECT event_type, d, day_value,
       ROUND(AVG(day_value) OVER (PARTITION BY event_type ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS weekly_avg
FROM keyed
""",
    "sales_rollup": """
SELECT y AS year, m AS month, ROUND(SUM(value), 2) AS total_sales,
       COUNT(*) AS n_events
FROM (SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m, value
      FROM events)
GROUP BY ROLLUP (y, m)
""",
    "event_type_cube": """
SELECT event_type, dow, ROUND(SUM(value), 2) AS total_sales
FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, value FROM events)
GROUP BY CUBE (event_type, dow)
""",
    "distinct_users_per_day": """
SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1
""",
    # identical centered-7-day trend + day_num%7 seasonal windows
    "seasonal_daily_decompose": """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      ROUND(SUM(value), 2) AS day_value
               FROM events GROUP BY 1, 2),
n AS (SELECT *, CAST(d - DATE '1970-01-01' AS BIGINT) AS day_num FROM daily),
t AS (SELECT *, AVG(day_value) OVER (PARTITION BY event_type ORDER BY day_num
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM n),
de AS (SELECT *, day_value - trend AS det FROM t),
se AS (SELECT *, AVG(det) OVER (PARTITION BY event_type, day_num % 7)
                   AS seasonal
       FROM de)
SELECT event_type, d, day_value,
       ROUND(trend, 6) + 0.0 AS trend,
       ROUND(seasonal, 6) + 0.0 AS seasonal,
       ROUND(det - seasonal, 6) + 0.0 AS residual
FROM se
""",
    # exact median / MAD twin of the Spark three-pass plan; the
    # outlier predicate compares the same doubles both engines compute
    "robust_value_stats": """
WITH med AS (SELECT event_type, median(value) AS m FROM events GROUP BY 1),
dev AS (SELECT e.event_type, ABS(e.value - med.m) AS ad, med.m AS m
        FROM events e JOIN med USING (event_type)),
mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1)
SELECT d.event_type,
       ROUND(MIN(d.m), 6) + 0.0 AS median_value,
       ROUND(MIN(mad.mad), 6) + 0.0 AS mad,
       CAST(SUM(CASE WHEN d.ad > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM dev d JOIN mad USING (event_type) GROUP BY 1
""",
    "value_stats_per_type": """
SELECT event_type, ROUND(median(value), 6) AS median_value,
       ROUND(MIN(value), 2) AS min_value, ROUND(MAX(value), 2) AS max_value
FROM events GROUP BY 1
""",
    "event_value_pivot": f"""
SELECT CAST(ts AS DATE) AS d,
  {_PIVOT_COLS}
FROM events GROUP BY 1
""",
    "purchasers_also_errored": """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    "viewers_never_purchased": """
SELECT user_id FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    "asof_last_click": """
WITH clicks AS (SELECT user_id, ts, 0 AS side, event_id AS click_id,
                       CAST(NULL AS BIGINT) AS purchase_id
                FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts, 1 AS side, CAST(NULL AS BIGINT) AS click_id,
                     event_id AS purchase_id
              FROM events WHERE event_type = 'purchase'),
u AS (SELECT * FROM clicks UNION ALL SELECT * FROM purchases),
carried AS (SELECT *, LAST_VALUE(click_id IGNORE NULLS) OVER (
              PARTITION BY user_id
              ORDER BY ts, side, COALESCE(click_id, purchase_id)
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
            FROM u)
SELECT purchase_id, user_id, ts AS purchase_ts, last_click_id
FROM carried WHERE side = 1
""",
    "asof_next_purchase": """
WITH clicks AS (SELECT user_id, ts, 0 AS side, event_id AS click_id,
                       CAST(NULL AS BIGINT) AS purchase_id
                FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts, 1 AS side, CAST(NULL AS BIGINT) AS click_id,
                     event_id AS purchase_id
              FROM events WHERE event_type = 'purchase'),
u AS (SELECT * FROM clicks UNION ALL SELECT * FROM purchases),
carried AS (SELECT *, FIRST_VALUE(purchase_id IGNORE NULLS) OVER (
              PARTITION BY user_id
              ORDER BY ts, side, COALESCE(click_id, purchase_id)
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_id
            FROM u)
SELECT click_id, user_id, ts AS click_ts, next_purchase_id
FROM carried WHERE side = 0
""",
    "interval_join_click_purchase": """
WITH clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts
                FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                     value AS purchase_value
              FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id,
       CAST(FLOOR(p.purchase_value * 100 + 0.5) AS BIGINT)
         AS purchase_value_cents
FROM clicks c JOIN purchases p
  ON c.user_id = p.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
""",
    "lineitem_price_bands": """
WITH bands(band, lo, hi) AS (VALUES {bands})
SELECT band, COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS band_revenue_cents
FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY 1
""".format(
        bands=", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in temporal.PRICE_BANDS)
    ),
    "hourly_event_counts": """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_cents
FROM events GROUP BY 1, 2
""",
    "day_over_day_delta": """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS day_value_cents
               FROM events GROUP BY 1, 2)
SELECT event_type, d, day_value_cents,
       CAST(day_value_cents - LAG(day_value_cents)
            OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
         AS delta_vs_prev_cents
FROM daily
""",
    "latest_event_per_user": """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       ts AS last_ts
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
WHERE rk = 1
""",
    "value_percentiles": """
SELECT event_type,
       CAST(FLOOR(quantile_cont(value, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_micro,
       CAST(FLOOR(quantile_cont(value, 0.9) * 1000000 + 0.5) AS BIGINT) AS p90_micro,
       CAST(FLOOR(quantile_cont(value, 0.99) * 1000000 + 0.5) AS BIGINT) AS p99_micro
FROM events GROUP BY 1
""",
    "event_metrics_long": """
WITH wide AS (SELECT event_type,
                     CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       AS total_cents,
                     CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                          // COUNT(*) AS BIGINT) AS mean_micro,
                     COUNT(*) AS n
              FROM events GROUP BY 1)
SELECT event_type, 'total_cents' AS metric, total_cents AS metric_value FROM wide
UNION ALL SELECT event_type, 'mean_micro', mean_micro FROM wide
UNION ALL SELECT event_type, 'n', n FROM wide
""",
    "customers_above_avg_balance": """
SELECT c_custkey, c_name,
       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS c_acctbal_cents
FROM customer
WHERE CAST(FLOOR(c_acctbal * 1000000 + 0.5) AS BIGINT)
      > (SELECT CAST((SUM(u) - (((SUM(u) % COUNT(*)) + COUNT(*)) % COUNT(*)))
                     // COUNT(*) AS BIGINT)
         FROM (SELECT CAST(FLOOR(c_acctbal * 1000000 + 0.5) AS BIGINT) AS u
               FROM customer))
""",
    "tfidf_top_terms": """
WITH toks AS (SELECT doc_id, unnest({words}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                  CAST(FLOOR((tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df))
                             * 1000000 + 0.5) AS BIGINT) AS tfidf_micro
           FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, tfidf_micro, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micro DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= 3
""".format(words=sql_words("text")),
    "bigram_surprisal": """
WITH ws AS (SELECT doc_id, {bg} AS bgs FROM documents),
b AS (SELECT doc_id, unnest(bgs) AS bigram FROM ws),
c2 AS (SELECT bigram, COUNT(*) AS cnt2 FROM b GROUP BY 1),
toks AS (SELECT unnest({w}) AS w1 FROM documents),
c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM toks GROUP BY 1),
j AS (SELECT doc_id, b.bigram, cnt2, cnt1
      FROM b JOIN c2 USING (bigram)
      JOIN c1 ON c1.w1 = split_part(b.bigram, ' ', 1))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(FLOOR(AVG(-ln(CAST(cnt2 AS DOUBLE) / cnt1)) * 1000000 + 0.5) AS BIGINT)
         AS avg_bigram_surprisal_micro
FROM j GROUP BY doc_id
""".format(bg=sql_word_shingles("text", w=2), w=sql_words("text")),
    "unigram_surprisal": """
WITH toks AS (SELECT doc_id, unnest({w}) AS term FROM documents),
tf AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM tf)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(FLOOR(AVG(-ln(CAST(cnt AS DOUBLE) / total)) * 1000000 + 0.5) AS BIGINT)
         AS avg_surprisal_micro
FROM toks JOIN tf USING (term) CROSS JOIN n
GROUP BY doc_id
""".format(w=sql_words("text")),
    "sequence_packing": """
WITH t AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
      FROM t)
SELECT doc_id, source, n_tokens, tok_offset,
       CAST(tok_offset // {ctx} AS BIGINT) AS first_chunk,
       CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // {ctx} AS BIGINT) AS last_chunk
FROM c
""".format(ctx=packing.CTX_LEN),
    "packing_efficiency": """
WITH t AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_offset
      FROM t),
p AS (SELECT source, n_tokens,
        CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // {ctx} AS BIGINT) AS last_chunk
      FROM c)
SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(last_chunk) + 1 AS BIGINT) AS n_chunks,
       CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) / ((MAX(last_chunk) + 1) * {ctx})
            * 1000000 + 0.5) AS BIGINT) AS fill_ratio_micro
FROM p GROUP BY 1
""".format(ctx=packing.CTX_LEN),
    "doc_chunks": """
WITH t AS (SELECT doc_id, {w} AS ws FROM documents),
s AS (SELECT doc_id, ws,
        unnest(generate_series(0, GREATEST(len(ws) - 1, 0), {stride})) AS start
      FROM t)
SELECT doc_id, CAST(start // {stride} AS INT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(LEAST({chunk}, len(ws) - start) AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(ws, start + 1, start + {chunk}), ' ') AS chunk_text
FROM s
""".format(w=sql_words("text"), stride=12, chunk=16),
    "vocabulary": """
WITH toks AS (SELECT DISTINCT doc_id, unnest({w}) AS term FROM documents),
dfc AS (SELECT term, COUNT(*) AS doc_freq FROM toks GROUP BY 1),
tf AS (SELECT term, COUNT(*) AS total_tf
       FROM (SELECT unnest({w}) AS term FROM documents) GROUP BY 1)
SELECT term, doc_freq, total_tf FROM dfc JOIN tf USING (term)
WHERE doc_freq >= 2
""".format(w=sql_words("text")),
    "embedding_quantize_int8": """
SELECT vec_id,
       GREATEST(ROUND(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6), 1e-12) AS scale,
       CAST(dim AS INT) AS dim,
       CAST(ROUND(CAST(v AS DOUBLE) * 127.0
            / GREATEST(ROUND(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6), 1e-12), 0) AS INT) AS qval
FROM (SELECT vec_id, embedding, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings)
""",
    "profile_documents": """
WITH t AS (SELECT source, lang,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt
           FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(FLOOR(AVG(nt) * 1000000 + 0.5) AS BIGINT) AS avg_tokens_micro,
       CAST(FLOOR(quantile_cont(nt, 0.5) * 1000000 + 0.5) AS BIGINT)
         AS p50_tokens_micro,
       CAST(FLOOR(quantile_cont(nt, 0.9) * 1000000 + 0.5) AS BIGINT)
         AS p90_tokens_micro,
       COUNT(DISTINCT lang) AS n_langs
FROM t GROUP BY 1
""",
    "profile_events": """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       COUNT(DISTINCT user_id) AS distinct_users,
       COUNT(DISTINCT event_type) AS distinct_types,
       CAST(FLOOR(MIN(value) * 1000000 + 0.5) AS BIGINT) AS min_value_micro,
       CAST(FLOOR(MAX(value) * 1000000 + 0.5) AS BIGINT) AS max_value_micro,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts
FROM events
""",
    "top_bigrams": """
WITH bg AS (SELECT unnest({shingles}) AS bigram FROM documents)
SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1
ORDER BY n DESC, bigram ASC LIMIT 20
""".format(shingles=sql_word_shingles("text", 2)),
    "embedding_norms": f"""
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       CAST(FLOOR({sql_l2_norm('embedding', similarity.EMB_DIM)} * 1000000 + 0.5)
            AS BIGINT) AS l2_norm_micro
FROM embeddings
""",
    "multimodal_frames": """
WITH f AS (SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
                  CAST(1 + strlen(text) % 16 AS INT) AS n_frames
           FROM documents)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * (n_bytes // n_frames) AS INT) AS frame_offset
FROM (SELECT doc_id, n_bytes, n_frames,
             unnest(generate_series(0, n_frames - 1)) AS frame_idx
      FROM f)
""",
    "scd2_user_segments": f"""
WITH ranked_before AS (
  SELECT user_id, event_type AS segment, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM events WHERE ts < TIMESTAMP '{_SCD2_CUTOFF}'),
cur AS (SELECT user_id, segment, ts AS valid_from FROM ranked_before WHERE rk = 1),
ranked_after AS (
  SELECT user_id, event_type AS segment, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM events WHERE ts >= TIMESTAMP '{_SCD2_CUTOFF}'),
upd AS (SELECT user_id, segment, ts FROM ranked_after WHERE rk = 1),
j AS (SELECT u.user_id AS u_user, u.segment AS u_seg, u.ts AS u_ts,
             c.user_id AS c_user, c.segment AS c_seg, c.valid_from AS c_from
      FROM upd u LEFT JOIN cur c ON u.user_id = c.user_id),
fresh AS (SELECT * FROM j
          WHERE c_user IS NULL OR ((u_seg IS DISTINCT FROM c_seg) AND u_ts > c_from)),
inserts AS (SELECT u_user AS user_id, u_seg AS segment, u_ts AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
            FROM fresh),
closed_now AS (SELECT c.user_id, c.segment, c.valid_from, f.u_ts AS valid_to,
                      FALSE AS is_current
               FROM cur c JOIN (SELECT u_user, u_ts FROM fresh WHERE c_user IS NOT NULL) f
                 ON c.user_id = f.u_user),
untouched AS (SELECT c.user_id, c.segment, c.valid_from,
                     CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
              FROM cur c
              WHERE NOT EXISTS (SELECT 1 FROM fresh f WHERE f.c_user = c.user_id))
SELECT * FROM untouched UNION ALL SELECT * FROM closed_now
UNION ALL SELECT * FROM inserts
""",
    # NOTE: the CTE chain below mirrors the scd2_user_segments oracle
    # above verbatim (kept duplicated so editing one never silently
    # re-certifies the other); only the final SELECT differs — the
    # SCD2 output becomes a dimension and every event left-joins the
    # version whose [valid_from, valid_to) interval contains its ts.
    "pit_enriched_events": f"""
WITH ranked_before AS (
  SELECT user_id, event_type AS segment, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM events WHERE ts < TIMESTAMP '{_SCD2_CUTOFF}'),
cur AS (SELECT user_id, segment, ts AS valid_from FROM ranked_before WHERE rk = 1),
ranked_after AS (
  SELECT user_id, event_type AS segment, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM events WHERE ts >= TIMESTAMP '{_SCD2_CUTOFF}'),
upd AS (SELECT user_id, segment, ts FROM ranked_after WHERE rk = 1),
j AS (SELECT u.user_id AS u_user, u.segment AS u_seg, u.ts AS u_ts,
             c.user_id AS c_user, c.segment AS c_seg, c.valid_from AS c_from
      FROM upd u LEFT JOIN cur c ON u.user_id = c.user_id),
fresh AS (SELECT * FROM j
          WHERE c_user IS NULL OR ((u_seg IS DISTINCT FROM c_seg) AND u_ts > c_from)),
inserts AS (SELECT u_user AS user_id, u_seg AS segment, u_ts AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
            FROM fresh),
closed_now AS (SELECT c.user_id, c.segment, c.valid_from, f.u_ts AS valid_to,
                      FALSE AS is_current
               FROM cur c JOIN (SELECT u_user, u_ts FROM fresh WHERE c_user IS NOT NULL) f
                 ON c.user_id = f.u_user),
untouched AS (SELECT c.user_id, c.segment, c.valid_from,
                     CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
              FROM cur c
              WHERE NOT EXISTS (SELECT 1 FROM fresh f WHERE f.c_user = c.user_id)),
scd2_dim AS (SELECT * FROM untouched UNION ALL SELECT * FROM closed_now
             UNION ALL SELECT * FROM inserts)
SELECT e.event_id, e.user_id, e.event_type, d.segment,
       d.valid_from AS segment_from
FROM events e LEFT JOIN scd2_dim d
  ON e.user_id = d.user_id AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
""",
    "grouping_sets_sales": """
SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_sales_cents
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(dayofweek(ts) + 1 AS INT)))
""",
    "distinct_user_event_pairs": """
SELECT DISTINCT user_id, event_type FROM events
""",
    "dedup_exact": """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    "containment_pairs": """
WITH sh AS (SELECT doc_id, {shingles} AS shingles FROM documents),
ds0 AS (SELECT DISTINCT doc_id, s AS shingle
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
hot AS (SELECT shingle
        FROM (SELECT shingle, COUNT(*) AS df FROM ds0 GROUP BY 1) d, nd
        WHERE d.df > {frac} * nd.n_docs),
ds AS (SELECT doc_id, shingle FROM ds0
       WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       CAST(FLOOR(CAST(i.n_inter AS DOUBLE) / sa.n_sh * 1000000 + 0.5) AS BIGINT)
         AS containment_a_micro,
       CAST(FLOOR(CAST(i.n_inter AS DOUBLE) / sb.n_sh * 1000000 + 0.5) AS BIGINT)
         AS containment_b_micro
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(FLOOR(CAST(i.n_inter AS DOUBLE) / sa.n_sh * 1000000 + 0.5) AS BIGINT) >= 800000
   OR CAST(FLOOR(CAST(i.n_inter AS DOUBLE) / sb.n_sh * 1000000 + 0.5) AS BIGINT) >= 800000
""".format(shingles=sql_word_shingles("text"), frac=dedup.NGRAM_MAX_DF_FRAC),    "repeated_substring_spans": f"""
WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
s0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS i, ws
       FROM w WHERE len(ws) >= 8),
s AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS h
      FROM s0),
rep AS (SELECT h FROM s GROUP BY h HAVING COUNT(*) >= 2),
m AS (SELECT doc_id, pos FROM s JOIN rep USING (h)),
g AS (SELECT doc_id, pos,
        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
             THEN 0 ELSE 1 END AS brk
      FROM m),
isl AS (SELECT doc_id, pos,
          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS gid
        FROM g)
SELECT doc_id, MIN(pos) AS start_tok,
       MAX(pos) + 7 AS end_tok,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, gid
HAVING CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) >= 16
""",
    # keep-one policy: rk 1 per hash (ordered by doc_id, pos) is the
    # kept corpus-first occurrence == Spark's min(struct(doc_id, pos))
    "documents_substr_deduped": f"""
WITH w AS (SELECT doc_id, lang, source, {_WORDS} AS ws FROM documents),
s0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS i, ws
       FROM w WHERE len(ws) >= 8),
s AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS h
      FROM s0),
r AS (SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk,
             COUNT(*) OVER (PARTITION BY h) AS c
      FROM s),
m AS (SELECT doc_id, pos FROM r WHERE c >= 2 AND rk >= 2),
g AS (SELECT doc_id, pos,
        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
             THEN 0 ELSE 1 END AS brk
      FROM m),
isl AS (SELECT doc_id, pos,
          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS gid
        FROM g),
sp AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 7 AS en
       FROM isl GROUP BY doc_id, gid
       HAVING MAX(pos) + 7 - MIN(pos) + 1 >= 16),
tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS word
        FROM (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
              FROM w)),
kept AS (SELECT t.doc_id, t.pos, t.word FROM tok t
         WHERE NOT EXISTS (SELECT 1 FROM sp
                           WHERE sp.doc_id = t.doc_id
                             AND t.pos BETWEEN sp.st AND sp.en)),
txt AS (SELECT doc_id, COALESCE(string_agg(word, ' ' ORDER BY pos), '') AS t2
        FROM kept GROUP BY doc_id)
SELECT w.doc_id, COALESCE(t.t2, '') AS text, w.lang, w.source,
       CAST(length(COALESCE(t.t2, '')) AS BIGINT) AS n_chars
FROM w LEFT JOIN txt t USING (doc_id)
""",
    "shingle_novelty": f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM ds GROUP BY 1
      HAVING COUNT(*) <= {dedup.NGRAM_MAX_DF_FRAC} * (SELECT n_docs FROM nd))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty_frac
FROM ds JOIN f USING (shingle) GROUP BY doc_id
""",
    "corpus_diff": """
WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id < 400),
n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]' ELSE text END) AS new_hash
      FROM documents WHERE doc_id >= 100)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash != n.new_hash THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
""",
    "incremental_dedup": r"""
WITH nb AS (SELECT *, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
            FROM documents WHERE doc_id % 5 = 0),
corpus AS (SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
           FROM documents WHERE doc_id % 5 != 0),
fresh AS (SELECT nb.* FROM nb WHERE nb.h NOT IN (SELECT h FROM corpus)),
keep AS (SELECT h, MIN(doc_id) AS doc_id FROM fresh GROUP BY 1)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN keep k ON d.doc_id = k.doc_id
""",
    # fuzzy admission twin: bands over ALL docs once, candidates are
    # new-side x corpus-side collisions, exact Jaccard gates the
    # rejection — mirrors incremental_fuzzy_dedup's verify path
    "incremental_fuzzy_dedup": f"""
WITH {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT c.new_id, c.corpus_id, COUNT(*) AS n_inter
          FROM cand c
          JOIN ds a ON a.doc_id = c.new_id
          JOIN ds b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
dup AS (SELECT DISTINCT i.new_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.new_id
        JOIN sizes sb ON sb.doc_id = i.corpus_id
        WHERE CAST(FLOOR(CAST(i.n_inter AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - i.n_inter) * 1000000 + 0.5)
                   AS BIGINT) >= {_JAC_T})
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id % 5 = 0 AND d.doc_id NOT IN (SELECT new_id FROM dup)
""",
    "dedup_exact_normalized": """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    "minhash_signatures": f"""
WITH {_SIG_CTE}
SELECT * FROM sig
""",
    "lsh_candidate_pairs": f"""
WITH {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT}
SELECT c.doc_a, c.doc_b, j.jaccard_micro
FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
WHERE j.jaccard_micro >= {_JAC_T}
""",
    "ngram_jaccard_pairs": f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
{_CAPPED_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard_micro FROM jac WHERE jaccard_micro >= {_JAC_T}
""",
    # winnowing: key = h·2^24 + (2^24-1-pos) makes MIN(key) the
    # paper's rightmost-min selection; parallel unnest zips the
    # shingle array with its positions
    "winnowing_fingerprints": f"""
WITH shl AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
psh AS (SELECT doc_id, len(sh) AS n,
               unnest(generate_series(1, len(sh))) - 1 AS pos,
               unnest(sh) AS shingle
        FROM shl WHERE len(sh) >= 1),
keyed AS (SELECT doc_id, n, pos,
                 ({sql_hash32('shingle', salt='wn')}) * {dedup.WINNOW_POS_MOD}
                 + ({dedup.WINNOW_POS_MOD - 1} - LEAST(pos, {dedup.WINNOW_POS_MOD - 1})) AS key
          FROM psh),
mins AS (SELECT doc_id, n, pos,
                MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW
                               AND {dedup.WINNOW_W - 1} FOLLOWING) AS key
         FROM keyed),
fp AS (SELECT DISTINCT doc_id, n, key FROM mins
       WHERE pos <= GREATEST(n - {dedup.WINNOW_W}, 0))
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST((COUNT(*) * 1000000)
            // (GREATEST(MAX(n) - {dedup.WINNOW_W}, 0) + 1) AS BIGINT)
         AS density_u
FROM fp GROUP BY 1
""",
    "winnowing_overlap_pairs": f"""
WITH shl AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
psh AS (SELECT doc_id, len(sh) AS n,
               unnest(generate_series(1, len(sh))) - 1 AS pos,
               unnest(sh) AS shingle
        FROM shl WHERE len(sh) >= 1),
keyed AS (SELECT doc_id, n, pos,
                 ({sql_hash32('shingle', salt='wn')}) * {dedup.WINNOW_POS_MOD}
                 + ({dedup.WINNOW_POS_MOD - 1} - LEAST(pos, {dedup.WINNOW_POS_MOD - 1})) AS key
          FROM psh),
mins AS (SELECT doc_id, n, pos,
                MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW
                               AND {dedup.WINNOW_W - 1} FOLLOWING) AS key
         FROM keyed),
fp AS (SELECT DISTINCT doc_id, key // {dedup.WINNOW_POS_MOD} AS h
       FROM mins WHERE pos <= GREATEST(n - {dedup.WINNOW_W}, 0)),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM fp GROUP BY 1) d, nd
        WHERE d.df > {dedup.NGRAM_MAX_DF_FRAC} * nd.n_docs),
f2 AS (SELECT doc_id, h FROM fp WHERE h NOT IN (SELECT h FROM hot))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM f2 a JOIN f2 b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {dedup.WINNOW_MIN_SHARED}
""",
    # lsh_candidate_precision: same banding as lsh_candidate_pairs,
    # but the verify is the exact rational cross-multiplication (no
    # ROUND) and banding false positives with zero shared shingles
    # are COUNTED via the left join, not dropped
    "lsh_candidate_precision": f"""
WITH {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
v AS (SELECT CASE WHEN COALESCE(i.n_inter, 0) * 1000000
                       >= {int(round(dedup.JACCARD_THRESHOLD * 1_000_000))}
                          * (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))
                  THEN 1 ELSE 0 END AS ok
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b)
SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(ok), 0) AS BIGINT) AS n_verified,
       CAST((COALESCE(SUM(ok), 0) * 1000000) // GREATEST(COUNT(*), 1) AS BIGINT)
         AS precision_u
FROM v
""",
    # min_support / k interpolate from the SAME module constants the
    # Spark defaults use (ADVICE r07) — a default change diverges the
    # oracle loudly at regen, never silently.
    "item_neighbors_topk": f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pn AS (SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY 1),
pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              CAST(COUNT(*) AS BIGINT) AS support
       FROM op a JOIN op b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= {tpch.ITEM_NEIGHBORS_MIN_SUPPORT}),
sym AS (SELECT part_a AS part, part_b AS neighbor, support FROM pr
        UNION ALL
        SELECT part_b AS part, part_a AS neighbor, support FROM pr),
scored AS (SELECT s.part, s.neighbor, s.support,
                  CAST((s.support * 1000000) // (pa.n + pb.n - s.support)
                       AS BIGINT) AS jaccard_u
           FROM sym s
           JOIN pn pa ON pa.l_partkey = s.part
           JOIN pn pb ON pb.l_partkey = s.neighbor)
SELECT part, neighbor, support, jaccard_u,
       CAST(ROW_NUMBER() OVER (PARTITION BY part
            ORDER BY jaccard_u DESC, neighbor ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= {tpch.ITEM_NEIGHBORS_K}
""",
    "classifier_calibration": _classifier.sql_calibration_by_margin(),
    "dp_source_counts": text.sql_dp_source_counts(),
    "markov_attribution": temporal.sql_markov_attribution(),
    "journey_length_hist": temporal.sql_journey_length_hist(),
    "dup_quality_report": text.sql_dup_quality_report(),
    "basket_size_hist": """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
bs AS (SELECT l_orderkey, COUNT(*) AS basket_size FROM op GROUP BY 1),
hist AS (SELECT basket_size, COUNT(*) AS n_orders FROM bs GROUP BY 1),
tot AS (SELECT SUM(n_orders) AS t FROM hist)
SELECT CAST(basket_size AS BIGINT) AS basket_size,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST((SUM(n_orders) OVER (ORDER BY basket_size
                                 ROWS UNBOUNDED PRECEDING) * 1000000)
            // tot.t AS BIGINT) AS cum_share_u
FROM hist CROSS JOIN tot
""",
    # retrieval_eval's oracle is assigned AFTER this dict literal —
    # it nests ORACLES["bm25_topk"] verbatim as its ranked subquery
    # prefix_jaccard_pairs is EXACT (prefix filtering is lossless), so
    # its oracle is the pure uncapped brute-force Jaccard — the
    # strongest correctness statement in the dedup family: the pruned
    # plan must reproduce all-pairs truth, not a capped approximation.
    "prefix_jaccard_pairs": f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
{_JACCARD_CTES_INT}
SELECT doc_a, doc_b, jaccard_micro FROM jac
WHERE jaccard_micro >= {_PREFIX_T}
""",
    "bm25_topk": f"""
WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS term FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {", ".join(f"('{qid}', '{t}')" for qid, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES))}),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       WHERE term IN ({", ".join(sorted({f"'{t}'" for _, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES)}))})
       GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
s AS (SELECT q.query_id, tf.doc_id,
        ROUND(SUM(ln(1.0 + (corpus.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
          * tf.tf * {retrieval.BM25_K1 + 1.0}
          / (tf.tf + {retrieval.BM25_K1}
             * ({1.0 - retrieval.BM25_B} + {retrieval.BM25_B} * dl.dl / corpus.avgdl))), 6) AS score
      FROM tf JOIN q USING (term) JOIN dfq USING (term)
      JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY 1, 2)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS INT) AS rank
FROM s
QUALIFY rank <= {retrieval.BM25_K}
""",
    # value_percentiles_hist: every threshold and width is CAST to
    # DOUBLE so both engines run the identical float comparisons (a
    # bare 0.99 * n would be DECIMAL in DuckDB and can flip a >= at
    # an exact-integer cum boundary)
    "value_percentiles_hist": f"""
WITH b AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax,
                  CAST(COUNT(value) AS BIGINT) AS n FROM events),
w AS (SELECT *, CASE WHEN vmax > vmin
                     THEN (vmax - vmin) / CAST({temporal.HIST_BUCKETS} AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE) END AS wd FROM b),
hist AS (SELECT LEAST({temporal.HIST_BUCKETS - 1},
                      CAST(FLOOR((value - w.vmin) / w.wd) AS BIGINT)) AS idx,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM events CROSS JOIN w GROUP BY 1),
cum AS (SELECT idx, SUM(cnt) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist),
sel AS (SELECT
          MIN(CASE WHEN cum >= CAST(0.5 AS DOUBLE) * w.n THEN idx END) AS i50,
          MIN(CASE WHEN cum >= CAST(0.9 AS DOUBLE) * w.n THEN idx END) AS i90,
          MIN(CASE WHEN cum >= CAST(0.99 AS DOUBLE) * w.n THEN idx END) AS i99
        FROM cum CROSS JOIN w)
SELECT CAST(FLOOR(LEAST(w.vmin + w.wd * (i50 + 1), w.vmax)
                  * 1000000 + 0.5) AS BIGINT) AS p50_est_micro,
       CAST(FLOOR(LEAST(w.vmin + w.wd * (i90 + 1), w.vmax)
                  * 1000000 + 0.5) AS BIGINT) AS p90_est_micro,
       CAST(FLOOR(LEAST(w.vmin + w.wd * (i99 + 1), w.vmax)
                  * 1000000 + 0.5) AS BIGINT) AS p99_est_micro,
       CAST(FLOOR(w.wd * 1000000 + 0.5) AS BIGINT) AS bucket_width_micro
FROM sel CROSS JOIN w
""",
    # media_dedup: the fake payload is the text's UTF-8 bytes, so
    # md5(payload) == md5(text) — both engines hash the same bytes
    "media_dedup": """
WITH p AS (SELECT doc_id, md5(text) AS payload_hash,
                  octet_length(encode(text)) AS n_bytes
           FROM documents)
SELECT payload_hash, MIN(doc_id) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST((COUNT(*) - 1) * MAX(n_bytes) AS BIGINT) AS dup_bytes
FROM p GROUP BY 1
""",
    "cross_corpus_surprisal": """
WITH hist AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
htoks AS (SELECT unnest({w}) AS term FROM hist),
tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM htoks GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS v FROM tf),
ntoks AS (SELECT doc_id, unnest({w}) AS term FROM newb)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN tf.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CAST(FLOOR((-ln((COALESCE(cnt, 0) + 1)
                                 / (tot.total + tot.v + 1)))
                           * 1000000 + 0.5) AS BIGINT))
            // COUNT(*) AS BIGINT) AS avg_surprisal_micro
FROM ntoks LEFT JOIN tf USING (term) CROSS JOIN tot
GROUP BY doc_id
""".format(w=sql_words("text")),
    "corpus_growth": f"""
WITH sh0 AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh0)),
sb AS (SELECT CAST(FLOOR(doc_id / 100) AS BIGINT) AS bucket, doc_id, shingle
       FROM ds),
pb AS (SELECT bucket, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_pairs FROM sb GROUP BY 1),
fs AS (SELECT shingle, MIN(bucket) AS bucket FROM sb GROUP BY 1),
nv AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_novel FROM fs GROUP BY 1)
SELECT pb.bucket, n_docs, n_pairs,
       CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
       CAST((COALESCE(nv.n_novel, 0) * 1000000) // n_pairs AS BIGINT)
         AS novelty_rate_micro,
       CAST(SUM(COALESCE(nv.n_novel, 0)) OVER (ORDER BY pb.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM pb LEFT JOIN nv USING (bucket)
""",
    # lsh_recall_report: truth (uncapped exact Jaccard) and the LSH
    # path share the one shingle CTE; recall = n_hit/n_true in double
    "lsh_recall_report": f"""
WITH {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT},
truth AS (SELECT doc_a, doc_b FROM jac
          WHERE jaccard_micro >= {_PREFIX_T}),
lsh AS (SELECT c.doc_a, c.doc_b
        FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jaccard_micro >= {_PREFIX_T}),
hit AS (SELECT t.doc_a, t.doc_b FROM truth t
        WHERE EXISTS (SELECT 1 FROM lsh l
                      WHERE l.doc_a = t.doc_a AND l.doc_b = t.doc_b))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
       CAST(FLOOR((SELECT COUNT(*) FROM hit)
            / (SELECT COUNT(*) FROM truth) * 1000000 + 0.5) AS BIGINT)
         AS recall_micro
""",
    # fuzzy_decontaminate: LSH candidacy mirrored band-for-band (like
    # lsh_recall_report), split train/eval on the decontaminate
    # fixture mod; the threshold gate is the exact rational 7/10 in
    # integer arithmetic on both engines
    "fuzzy_decontaminate": f"""
WITH {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT a.doc_id AS doc_id, b.doc_id AS eval_doc_id
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
         GROUP BY 1, 2),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
inter AS (SELECT c.doc_id, c.eval_doc_id, COUNT(*) AS n_inter
          FROM cand c
          JOIN ds a ON a.doc_id = c.doc_id
          JOIN ds b ON b.doc_id = c.eval_doc_id AND b.shingle = a.shingle
          GROUP BY 1, 2),
scored AS (SELECT i.doc_id, i.eval_doc_id,
                  CAST(FLOOR((CAST(i.n_inter AS DOUBLE)
                              / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE))
                             * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_id
           JOIN sizes sb ON sb.doc_id = i.eval_doc_id
           WHERE {dedup.FUZZY_DECON_DEN} * i.n_inter
                 >= {dedup.FUZZY_DECON_NUM} * (sa.n_sh + sb.n_sh - i.n_inter))
SELECT doc_id, eval_doc_id, jaccard_micro
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY jaccard_micro DESC, eval_doc_id ASC) AS rk
      FROM scored)
WHERE rk = 1
""",
    # containment_sketch_pairs: bottom-k sample and postings drawn
    # from the SAME df-capped shingle universe; the threshold gate is
    # the exact rational 4/5 in integer arithmetic
    "containment_sketch_pairs": f"""
WITH sh0 AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
ds0 AS (SELECT DISTINCT doc_id, s AS shingle
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh0)),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
hot AS (SELECT shingle
        FROM (SELECT shingle, COUNT(*) AS df FROM ds0 GROUP BY 1) d, nd
        WHERE d.df > {dedup.NGRAM_MAX_DF_FRAC} * nd.n_docs),
ds AS (SELECT doc_id, shingle FROM ds0
       WHERE shingle NOT IN (SELECT shingle FROM hot)),
smp AS (SELECT doc_id, shingle
        FROM (SELECT doc_id, shingle,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY {sql_hash32('shingle', salt='kc')}, shingle)
                       AS rk
              FROM ds)
        WHERE rk <= {dedup.CONTAIN_SKETCH_K}),
keff AS (SELECT doc_id, COUNT(*) AS k_eff FROM smp GROUP BY 1),
hits AS (SELECT s.doc_id AS doc_a, d.doc_id AS doc_b, COUNT(*) AS n_hits
         FROM smp s JOIN ds d
           ON d.shingle = s.shingle AND d.doc_id <> s.doc_id
         GROUP BY 1, 2)
SELECT h.doc_a, h.doc_b,
       CAST(kf.k_eff AS BIGINT) AS k_eff,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       CAST(FLOOR((CAST(h.n_hits AS DOUBLE) / CAST(kf.k_eff AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS containment_est_micro
FROM hits h JOIN keff kf ON kf.doc_id = h.doc_a
WHERE {dedup.CONTAIN_DEN} * h.n_hits >= {dedup.CONTAIN_NUM} * kf.k_eff
""",
    # lsh_recall_sampled: same report over the deterministic 1-in-2
    # hash sample; candidacy is pairwise (own signatures only), so
    # within-sample candidacy is identical to the full run
    "lsh_recall_sampled": f"""
WITH {_SIG_CTE_SAMPLED},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT},
truth AS (SELECT doc_a, doc_b FROM jac
          WHERE jaccard_micro >= {_PREFIX_T}),
lsh AS (SELECT c.doc_a, c.doc_b
        FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jaccard_micro >= {_PREFIX_T}),
hit AS (SELECT t.doc_a, t.doc_b FROM truth t
        WHERE EXISTS (SELECT 1 FROM lsh l
                      WHERE l.doc_a = t.doc_a AND l.doc_b = t.doc_b)),
counts AS (SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS n_docs_sampled,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_sample,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh_sample,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit_sample)
SELECT n_docs_sampled, CAST(2 AS INT) AS sample_mod,
       n_true_sample, n_lsh_sample, n_hit_sample,
       CAST(FLOOR((CASE WHEN n_true_sample = 0 THEN NULL
                        ELSE CAST(n_hit_sample AS DOUBLE) / n_true_sample END)
                  * 1000000 + 0.5) AS BIGINT) AS recall_micro
FROM counts
""",
    "event_user_skew_topk": """
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY 1),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM counts)
SELECT user_id, n_rows,
       CAST((n_rows * 1000000) // tot.total AS BIGINT) AS share_micro,
       CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS INT) AS rank
FROM counts CROSS JOIN tot
QUALIFY rank <= 10
""",
    "event_user_skew_summary": """
WITH counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM events GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n_rows) AS BIGINT) AS max_rows,
       CAST((SUM(n_rows) * 1000000) // COUNT(*) AS BIGINT) AS avg_rows_micro,
       CAST(FLOOR(quantile_cont(n_rows, 0.5) * 1000000 + 0.5) AS BIGINT)
         AS p50_rows_micro,
       CAST(FLOOR(quantile_cont(n_rows, 0.99) * 1000000 + 0.5) AS BIGINT)
         AS p99_rows_micro,
       CAST(FLOOR((MAX(n_rows) / (CAST(SUM(n_rows) AS DOUBLE) / COUNT(*)))
                  * 1000000 + 0.5) AS BIGINT) AS skew_ratio_micro
FROM counts
""",
    # supplier_pagerank: the five power-method rounds UNROLLED as
    # chained CTEs (engines prohibit aggregation in a recursive CTE;
    # fixed iterations make recursion unnecessary and the result an
    # exact deterministic function of the edge set). CASTs keep DuckDB
    # in double arithmetic — a bare high-precision literal would be
    # DECIMAL.
    "supplier_pagerank": (
        lambda damping=0.85, iters=5: f"""
WITH e0 AS (SELECT DISTINCT o.o_custkey AS src, -(l.l_suppkey + 1) AS dst
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
ew AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
       FROM nodes CROSS JOIN nn),
"""
        + ",\n".join(
            f"""r{i} AS (SELECT n.node,
        CAST({1.0 - damping} AS DOUBLE) / nn.n
        + CAST({damping} AS DOUBLE) * COALESCE(c.c, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (SELECT ew.dst AS node, SUM(r.rank / ew.outdeg) AS c
                 FROM ew JOIN r{i - 1} r ON r.node = ew.src GROUP BY 1) c
        ON c.node = n.node)"""
            for i in range(1, iters + 1)
        )
        + f"""
SELECT node, CAST(FLOOR(rank * 1000000 + 0.5) AS BIGINT)
               AS pagerank_micro FROM r{iters}
"""
    )(),
    # hybrid_search_rrf: both modality shortlists in full (semantic =
    # the knn_bruteforce CTE, lexical = query-doc shingle Jaccard),
    # fused by reciprocal rank. 1.0/CAST(.. AS DOUBLE) keeps DuckDB in
    # double arithmetic (a bare 1.0/(int) would be DECIMAL division).
    "hybrid_search_rrf": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS doc_id,
                  ROUND({sql_cosine('q.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id != q.query_id),
sem AS (SELECT query_id, doc_id, rk AS sem_rk
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, doc_id ASC) AS rk FROM scored)
        WHERE rk <= {retrieval.HYBRID_M}),
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
ds AS (SELECT DISTINCT doc_id, s AS shingle
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY 1),
qsh AS (SELECT doc_id AS query_id, shingle FROM ds
        WHERE doc_id < {similarity.DEFAULT_N_QUERIES}),
li AS (SELECT qsh.query_id, ds.doc_id, COUNT(*) AS n_inter
       FROM ds JOIN qsh ON ds.shingle = qsh.shingle AND ds.doc_id != qsh.query_id
       GROUP BY 1, 2),
lex AS (SELECT query_id, doc_id, rk AS lex_rk
        FROM (SELECT l.query_id, l.doc_id,
                ROW_NUMBER() OVER (PARTITION BY l.query_id ORDER BY
                  ROUND(l.n_inter / (sq.n_sh + sd.n_sh - l.n_inter), 6) DESC,
                  l.doc_id) AS rk
              FROM li l JOIN sizes sq ON sq.doc_id = l.query_id
              JOIN sizes sd ON sd.doc_id = l.doc_id)
        WHERE rk <= {retrieval.HYBRID_M}),
f AS (SELECT COALESCE(sem.query_id, lex.query_id) AS query_id,
             COALESCE(sem.doc_id, lex.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / CAST({retrieval.RRF_K} + sem.sem_rk AS DOUBLE), 0.0)
                 + COALESCE(1.0 / CAST({retrieval.RRF_K} + lex.lex_rk AS DOUBLE), 0.0), 6)
               AS rrf_score
      FROM sem FULL JOIN lex
        ON sem.query_id = lex.query_id AND sem.doc_id = lex.doc_id)
SELECT query_id, doc_id, rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM f
QUALIFY rank <= {retrieval.HYBRID_K}
""",
    "phrase_search": f"""
WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
m AS (SELECT doc_id,
        list_filter(generate_series(1, len(ws) - {len(retrieval.PHRASE.split()) - 1}),
          i -> {" AND ".join(f"ws[i + {j}] = '{t}'" for j, t in enumerate(retrieval.PHRASE.lower().split()))}) AS hits
      FROM w WHERE len(ws) >= {len(retrieval.PHRASE.split())})
SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       CAST(list_min(hits) AS INT) AS first_pos
FROM m WHERE len(hits) > 0
""",
    "simhash": f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash_hi, simhash_lo FROM sim
""",
    "sample_events": """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ({bucket}) < 10
""".format(bucket=sql_bucket("event_id", "sample")),
    "dataset_splits": """
SELECT event_id, user_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (SELECT event_id, user_id, {bucket} AS b FROM events)
""".format(bucket=sql_bucket("user_id", "split")),
    "stratified_sample": """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ({bucket}) < {rate}
""".format(
        bucket=sql_bucket("event_id", "strat"),
        rate=sql_rate_case("event_type", STRATA_RATES),
    ),
    "mixture_sample": """
SELECT doc_id, source, n_chars, ({bucket}) < {rate} AS kept
FROM documents
""".format(
        bucket=sql_bucket("doc_id", "mix"),
        rate=sql_rate_case("source", MIXTURE_WEIGHTS),
    ),
    "temperature_mixture": """
WITH {rates}
SELECT d.doc_id, d.source, ({bucket}) < r.thr AS kept
FROM documents d JOIN rates r ON d.source = r.source
""".format(
        rates=sampling.sql_temperature_rates(),
        bucket=sql_bucket("d.doc_id", "temp", sampling.TEMP_BUCKETS),
    ),
    "temperature_mixture_summary": """
WITH {rates}
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ({bucket}) < r.thr THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(r.thr AS BIGINT) AS keep_rate_ppm
FROM documents d JOIN rates r ON d.source = r.source
GROUP BY d.source, r.thr
""".format(
        rates=sampling.sql_temperature_rates(),
        bucket=sql_bucket("d.doc_id", "temp", sampling.TEMP_BUCKETS),
    ),
    "weighted_sample": sampling.sql_weighted_sample(),
    "weighted_sample_by_source": sampling.sql_weighted_sample_by_source(),
    "countmin_sketch": _sketch.sql_countmin_sketch(),
    "countmin_estimates": _sketch.sql_countmin_estimates(),
    "nb_lang_scores": _classifier.sql_nb_lang_scores(),
    "daily_gapfill": temporal.sql_daily_gapfill(),
    "first_conversion_episode": temporal.sql_first_conversion_episode(),
    "jl_project": similarity.sql_jl_project(),
    # PQ: label-mean codebook per subspace (the deterministic
    # quantizer, same move as ivf_ann_topk), ordered-fold distances,
    # argmin with code-asc tie-break — mirrors operators/similarity
    "pq_codes": f"""
{_PQ_CORE}
SELECT vec_id, m, code FROM (
  SELECT vec_id, m, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m
                            ORDER BY d2 ASC, code ASC) AS rk
  FROM d)
WHERE rk = 1
""",
    "pq_ann_topk": f"""
{_PQ_CORE},
{_PQ_ADC}
SELECT query_id, neighbor_id, adc_d2, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
  FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "pq_ann_rerank": f"""
{_PQ_CORE},
{_PQ_ADC},
short AS (SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
            FROM scored)
          WHERE rk <= {similarity.PQ_RERANK_WIDE}),
rer AS (SELECT sh.query_id, sh.neighbor_id,
               ROUND({sql_cosine('q.embedding', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
        FROM short sh
        JOIN embeddings e ON e.vec_id = sh.neighbor_id
        JOIN embeddings q ON q.vec_id = sh.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM rer)
WHERE rk <= {similarity.DEFAULT_K}
""",
    # full IVF-PQ: routing restricts ADC to each query's n_probe
    # cells; integer micro-unit ADC shortlist; exact cosine re-rank
    "ivf_pq_topk": f"""
{_PQ_CORE},
{_PQ_CODES},
{_PQ_DT},
{_IVF_ROUTE},
adc AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
               SUM(dt.d2u) AS adc_u
        FROM codes
        JOIN assign a ON a.vec_id = codes.vec_id
        JOIN qroute r ON r.cell = a.cell
        JOIN dt ON dt.query_id = r.query_id
               AND dt.m = codes.m AND dt.code = codes.code
        WHERE codes.vec_id != dt.query_id
        GROUP BY 1, 2),
short AS (SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_u ASC, neighbor_id ASC) AS srk
            FROM adc)
          WHERE srk <= {similarity.PQ_RERANK}),
rer AS (SELECT sh.query_id, sh.neighbor_id,
               ROUND({sql_cosine('q.embedding', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
        FROM short sh
        JOIN embeddings e ON e.vec_id = sh.neighbor_id
        JOIN embeddings q ON q.vec_id = sh.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM rer)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "fuzzy_name_pairs": f"""
WITH t AS (
  SELECT c_custkey, lower(trim(c_name)) AS name,
         substr(lower(trim(c_name)), 1, {entity.BLOCK_LEN}) AS blk
  FROM customer)
SELECT a.c_custkey AS custkey_1, b.c_custkey AS custkey_2,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM t a JOIN t b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.name, b.name) <= {entity.MAX_DIST}
""",
    "entity_merge_groups": f"""
WITH RECURSIVE t AS (
  SELECT c_custkey, lower(trim(c_name)) AS name,
         substr(lower(trim(c_name)), 1, {entity.BLOCK_LEN}) AS blk
  FROM customer),
pairs AS (SELECT a.c_custkey AS k1, b.c_custkey AS k2
          FROM t a JOIN t b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
          WHERE levenshtein(a.name, b.name) <= {entity.MAX_DIST}),
edges AS (SELECT k1 AS src, k2 AS dst FROM pairs
          UNION SELECT k2, k1 FROM pairs),
walk(a, b) AS (SELECT c_custkey, c_custkey FROM customer
               UNION
               SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src),
cl AS (SELECT a AS c_custkey, MIN(b) AS canonical_custkey FROM walk GROUP BY a)
SELECT c_custkey, canonical_custkey,
       c_custkey = canonical_custkey AS is_canonical
FROM cl
""",
    "block_profile": f"""
SELECT block_size, COUNT(*) AS n_blocks
FROM (SELECT substr(lower(trim(c_name)), 1, {entity.BLOCK_LEN}) AS blk,
             COUNT(*) AS block_size
      FROM customer GROUP BY 1) b
GROUP BY 1
""",
    "split_summary": """
WITH s AS (SELECT event_id, user_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           FROM (SELECT event_id, user_id, {bucket} AS b FROM events))
SELECT split, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM s GROUP BY 1
""".format(bucket=sql_bucket("user_id", "split")),
    # connected components over the LSH near-dup pairs: cluster_id =
    # min doc_id reachable (recursive transitive closure — tiny graph)
    "dedup_clusters": f"""
WITH RECURSIVE {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT},
pairs AS (SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard_micro >= {_JAC_T}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(a, b) AS (SELECT doc_id, doc_id FROM documents
               UNION
               SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src)
SELECT a AS doc_id, MIN(b) AS cluster_id FROM walk GROUP BY a
""",
    "documents_deduped": f"""
WITH RECURSIVE {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT},
pairs AS (SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard_micro >= {_JAC_T}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(a, b) AS (SELECT doc_id, doc_id FROM documents
               UNION
               SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src),
cl AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM walk GROUP BY a)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN cl ON cl.doc_id = d.doc_id
WHERE cl.cluster_id = cl.doc_id
""",
    "documents_deduped_best": f"""
WITH RECURSIVE {_SIG_CTE},
bands AS ({_BANDS_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
{_JACCARD_CTES_INT},
pairs AS (SELECT c.doc_a, c.doc_b
          FROM cand c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard_micro >= {_JAC_T}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(a, b) AS (SELECT doc_id, doc_id FROM documents
               UNION
               SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src),
cl AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM walk GROUP BY a),
qm AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
q AS (SELECT doc_id,
             ROUND(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
                   - 8.0 * (n_punct / n_chars)
                   - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))), 6) AS quality
      FROM qm),
best AS (SELECT cluster_id, doc_id FROM (
           SELECT cl.cluster_id, cl.doc_id,
                  ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                     ORDER BY q.quality DESC, cl.doc_id ASC) AS rk
           FROM cl JOIN q ON cl.doc_id = q.doc_id) WHERE rk = 1)
SELECT d.doc_id, b.cluster_id, d.lang, d.source, d.n_chars
FROM documents d JOIN best b ON d.doc_id = b.doc_id
""",
    "simhash_near_pairs": f"""
WITH {_SIMHASH_CTE},
bands AS ({_SIMHASH_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
            + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.k = b.k AND a.bandval = b.bandval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
      + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= {dedup.HAMMING_MAX}
""",
    # code_switch_report: per-SENTENCE lang-id (same profiles/argmax
    # as lang_id, same boundary as sentence_chunks), majority + the
    # off-majority fraction in micro
    "code_switch_report": """
WITH s0 AS (SELECT doc_id,
                   trim(unnest(regexp_extract_all(text, '[^.!?]+[.!?]?')))
                     AS sent
            FROM documents),
s AS (SELECT doc_id, sent FROM s0 WHERE length(sent) > 0),
sc AS (SELECT doc_id,
  {scores}
  FROM s),
p AS (SELECT doc_id, {pred} AS pred FROM sc),
c AS (SELECT doc_id, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
t AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_sentences,
             CAST(SUM(CASE WHEN pred = 'und' THEN n ELSE 0 END) AS BIGINT)
               AS n_und
      FROM c GROUP BY 1),
m AS (SELECT doc_id, pred AS majority_lang, n AS maj_n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC, pred ASC) AS rk
            FROM c WHERE pred <> 'und')
      WHERE rk = 1)
SELECT t.doc_id, t.n_sentences, t.n_und,
       COALESCE(m.majority_lang, 'und') AS majority_lang,
       CASE WHEN t.n_sentences - t.n_und > 0 THEN
         CAST(FLOOR((CAST(t.n_sentences - t.n_und - m.maj_n AS DOUBLE)
                     / CAST(t.n_sentences - t.n_und AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT)
       ELSE NULL END AS switch_frac_micro
FROM t LEFT JOIN m ON m.doc_id = t.doc_id
""".format(
        scores=",\n  ".join(
            "CAST(len(list_filter({w}, x -> x IN ({m}))) AS INT) AS score_{lang}".format(
                w=sql_words("sent"),
                m=", ".join(f"'{s}'" for s in markers),
                lang=lang,
            )
            for lang, markers in text.LANG_PROFILES.items()
        ),
        pred=(
            "CASE WHEN greatest("
            + ", ".join(f"score_{lg}" for lg in text.LANG_PROFILES)
            + ") = 0 THEN 'und' "
            + " ".join(
                "WHEN score_{lg} = greatest({all}) THEN '{lg}'".format(
                    lg=lg,
                    all=", ".join(
                        f"score_{g}" for g in text.LANG_PROFILES
                    ),
                )
                for lg in text.LANG_PROFILES
            )
            + " END"
        ),
    ),
    "media_ahash": f"""
WITH {_AHASH_CTE}
SELECT doc_id, ahash_hi, ahash_lo FROM ah
""",
    "media_ahash_pairs": f"""
WITH {_AHASH_CTE},
bands AS ({_AHASH_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
            + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.k = b.k AND a.bandval = b.bandval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
      + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= {_mm.AHASH_HAMMING_MAX}
""",
    "token_counts": """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\S+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[aeiou]+|[^aeiou\\s]+')) AS INT)
         AS n_subword_pieces,
       CAST(length(text) AS INT) AS n_chars_measured
FROM documents
""",
    "lang_id": f"""
WITH scored AS (
  SELECT doc_id,
  {_LANG_SCORES},
  lang
  FROM documents)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       {_LANG_PRED} AS predicted_lang, lang,
       CAST(({_LANG_PRED}) = lang AS INT) AS agrees_with_label
FROM scored
""",
    "source_overlap_matrix": f"""
WITH ss AS (SELECT DISTINCT source, s AS sh
            FROM (SELECT source, unnest(list_distinct({_SHINGLES})) AS s
                  FROM documents)),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY 1),
inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
          FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
          GROUP BY 1, 2)
SELECT source_a, source_b, n_inter,
       CAST(FLOOR(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
            * 1000000 + 0.5) AS BIGINT) AS jaccard_micro
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
""",
    "budgeted_mixture": rf"""
WITH m AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
q AS (SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tokens,
             ROUND(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
                   - 8.0 * (n_punct / n_chars)
                   - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))), 6) AS quality
      FROM m),
c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM q)
SELECT doc_id, source, quality, n_tokens, cum_tokens,
       cum_tokens <= 1000 AS kept
FROM c
""",
    # r07 migration (COVERAGE.md encoding rule): fractional columns
    # ship as *_micro = floor(x*1e6 + 0.5) BIGINTs. The legacy
    # rounded-double SQL lives on as _QUALITY_SQL_LEGACY below for the
    # certified out-of-window queries that embed it verbatim
    # (quality_psi_by_source, curation_scores).
    "quality_scores": f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(FLOOR(((n_chars - (n_tok - 1)) / n_tok) * 1000000 + 0.5) AS BIGINT)
         AS mean_token_len_micro,
       CAST(FLOOR((n_punct / n_chars) * 1000000 + 0.5) AS BIGINT)
         AS punct_ratio_micro,
       CAST(FLOOR((n_stop / n_tok) * 1000000 + 0.5) AS BIGINT)
         AS stopword_ratio_micro,
       CAST(FLOOR((1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
             - 8.0 * (n_punct / n_chars)
             - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0))))) * 1000000
             + 0.5) AS BIGINT) AS quality_micro
FROM m
""",
    "doc_fingerprints": """
SELECT doc_id,
       {content_fp} AS content_fp,
       list_min(list_transform({shingles},
                s -> {sh_hash})) AS winnow_fp
FROM documents
""".format(
        content_fp=sql_hash32(
            "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')", salt="doc"
        ),
        shingles=sql_char_shingles("text", 8),
        sh_hash=sql_hash32("s", salt="fp"),
    ),
    "repetition_scores": f"""
WITH t AS (
  SELECT doc_id, {sql_words('text')} AS ws,
         {sql_word_shingles('text')} AS sh
  FROM documents)
SELECT doc_id,
       CAST(len(ws) AS INT) AS n_words,
       CAST(FLOOR((1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                   / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS dup_word_frac_micro,
       CAST(FLOOR((CAST(list_max(list_transform(list_distinct(ws),
                  d -> len(list_filter(ws, w -> w = d)))) AS DOUBLE)
             / CAST(len(ws) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS top_word_share_micro,
       CAST(FLOOR((CASE WHEN len(sh) > 0
                  THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                             / CAST(len(sh) AS DOUBLE)
                  ELSE 0.0 END) * 1000000 + 0.5) AS BIGINT)
         AS dup_3gram_frac_micro
FROM t
""",
    "sentence_chunks": """
WITH s0 AS (SELECT doc_id,
                   unnest(regexp_extract_all(text, '[^.!?]+[.!?]?')) AS sent,
                   generate_subscripts(regexp_extract_all(text, '[^.!?]+[.!?]?'), 1) AS i
            FROM documents),
s AS (SELECT doc_id, CAST((i - 1) // 3 AS INT) AS chunk_id, i, trim(sent) AS sent
      FROM s0 WHERE length(trim(sent)) > 0)
SELECT doc_id, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
       string_agg(sent, ' ' ORDER BY i) AS chunk_text
FROM s GROUP BY 1, 2
""",
    "char_entropy": """
WITH ch AS (
  SELECT doc_id,
         unnest(regexp_extract_all(substr(text, 1, 2000), '(?s).')) AS c
  FROM documents WHERE length(text) > 0),
f AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_chars_sampled,
       COUNT(*) AS n_unique_chars,
       CAST(FLOOR((LN(SUM(n)) - SUM(n * LN(n)) / SUM(n)) * 1000000
                  + 0.5) AS BIGINT) AS char_entropy_micro
FROM f GROUP BY doc_id
""",
    "contamination_report": f"""
WITH ev AS (SELECT DISTINCT doc_id AS eval_doc_id, s AS sh
            FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s
                  FROM documents WHERE doc_id % 20 = 0)),
tr0 AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shl
        FROM documents WHERE doc_id % 20 != 0),
tr AS (SELECT doc_id, unnest(shl) AS sh, len(shl) AS n_sh FROM tr0),
pair AS (SELECT ev.eval_doc_id, tr.doc_id, tr.n_sh, COUNT(*) AS n_shared
         FROM tr JOIN ev USING (sh) GROUP BY 1, 2, 3)
SELECT eval_doc_id, COUNT(DISTINCT doc_id) AS n_contaminating_docs,
       CAST(FLOOR(MAX(CAST(n_shared AS DOUBLE) / n_sh) * 1000000 + 0.5) AS BIGINT)
         AS max_overlap_frac_micro
FROM pair GROUP BY 1
""",
    "decontaminate": f"""
WITH sh_tbl AS (
  SELECT doc_id, list_distinct({sql_word_shingles('text')}) AS sh
  FROM documents),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 = 0),
train AS (
  SELECT doc_id, unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 <> 0)
SELECT train.doc_id AS doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(FLOOR((CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS contamination_frac_micro
FROM train LEFT JOIN eval_sh e ON train.s = e.s
GROUP BY 1
""",
    # r07 migration: metrics threshold, order, and ship at micro
    # scale; micro(x) >= 200000 and the legacy ROUND(x,6) >= 0.2
    # select the identical raw range, so the survivor set matches the
    # legacy contract.
    "curated_corpus": f"""
WITH metrics AS (
  SELECT doc_id, source,
         CAST(FLOOR((1.0 / (1.0 + exp(-(-2.0
           + 0.02 * CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE)
           + 4.0 * (CAST(len(list_filter({sql_words('text')}, w -> w IN ({{en_sw}}))) AS DOUBLE)
                    / CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE))
           - 8.0 * (CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE))
           - 0.1 * abs((CAST(length(text) AS DOUBLE)
                        - (CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) - 1))
                       / CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) - 5.0)))))
               * 1000000 + 0.5) AS BIGINT) AS quality_micro,
         CAST(FLOOR((CASE WHEN len({sql_word_shingles('text')}) > 0
                    THEN 1.0 - CAST(len(list_distinct({sql_word_shingles('text')})) AS DOUBLE)
                               / CAST(len({sql_word_shingles('text')}) AS DOUBLE)
                    ELSE 0.0 END) * 1000000 + 0.5) AS BIGINT) AS dup_3gram_frac_micro
  FROM documents WHERE doc_id % 20 <> 0),
sh_tbl AS (
  SELECT doc_id, list_distinct({sql_word_shingles('text')}) AS sh
  FROM documents),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 = 0),
train AS (
  SELECT doc_id, unnest(sh) AS s FROM sh_tbl WHERE doc_id % 20 <> 0),
dec AS (
  SELECT train.doc_id AS doc_id,
         CAST(FLOOR((CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS contamination_frac_micro
  FROM train LEFT JOIN eval_sh e ON train.s = e.s
  GROUP BY 1),
surv AS (
  SELECT m.doc_id, m.source, m.quality_micro, m.dup_3gram_frac_micro,
         d.contamination_frac_micro
  FROM metrics m JOIN dec d ON m.doc_id = d.doc_id
  WHERE m.quality_micro >= 200000 AND m.dup_3gram_frac_micro <= 900000
    AND d.contamination_frac_micro <= 900000)
SELECT doc_id, source, quality_micro, dup_3gram_frac_micro,
       contamination_frac_micro,
       CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY quality_micro DESC, doc_id ASC) AS rk
      FROM surv)
WHERE rk <= 5
""".replace("{en_sw}", _EN_SW),
    "pii_scrub": f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{text.PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_DENY_RE}')) AS INT) AS n_denylisted,
       CAST(length({_SCRUBBED_SQL}) AS INT) AS scrubbed_len,
       {sql_hash32(_SCRUBBED_SQL)} AS scrubbed_hash
FROM documents
""",
    "curation_scores": None,  # filled in below (composes two oracles)
    "knn_bruteforce": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  ROUND({sql_cosine('q.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "ann_lsh_topk": f"""
WITH bucketed AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
                  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
      FROM bucketed WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  ROUND({sql_cosine('q.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM bucketed e JOIN q
             ON e.bucket = q.q_bucket AND e.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "ann_lsh_multiprobe": f"""
WITH bucketed AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
                  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
      FROM bucketed WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
probes AS (SELECT query_id, q_emb,
                  unnest(list_prepend(q_bucket,
                    list_transform(generate_series(0, {similarity.N_PLANES - 1}),
                                   p -> xor(q_bucket, 1 << p)))) AS probe
           FROM q),
scored AS (SELECT p.query_id, e.vec_id AS neighbor_id,
                  ROUND({sql_cosine('p.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM bucketed e JOIN probes p
             ON e.bucket = p.probe AND e.vec_id != p.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "knn_int8": f"""
WITH qz AS (SELECT vec_id,
        list_transform(embedding,
          x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 /
               GREATEST(ROUND(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 6), 1e-12), 0) AS INT)) AS qvec
      FROM embeddings),
q AS (SELECT vec_id AS query_id, qvec AS q_qvec
      FROM qz WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  ROUND({sql_cosine('q.q_qvec', 'e.qvec', similarity.EMB_DIM)}, 6) AS cos_sim_q8
           FROM qz e CROSS JOIN q WHERE e.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos_sim_q8, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim_q8 DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "ann_lsh_topk_planned": f"""
WITH bucketed AS (SELECT vec_id, embedding, {_bucket_sql('embedding', n_planes=1)} AS bucket
                  FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
      FROM bucketed WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  ROUND({sql_cosine('q.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM bucketed e JOIN q
             ON e.bucket = q.q_bucket AND e.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "ivf_ann_topk": f"""
WITH cent AS (SELECT label, CAST(dim AS INT) AS dim,
                     ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
              FROM (SELECT label, unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings)
              GROUP BY 1, 2),
cent_arr AS (SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label),
dists AS (SELECT e.vec_id, e.embedding, c.label,
                 list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (x, y) -> x + y) AS d2
          FROM embeddings e CROSS JOIN cent_arr c),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, label ASC) AS rk
           FROM dists),
assign AS (SELECT vec_id, embedding, label AS cell FROM ranked WHERE rk = 1),
qprobe AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS cell
           FROM ranked
           WHERE vec_id < {similarity.DEFAULT_N_QUERIES} AND rk <= {similarity.IVF_N_PROBE}),
scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                  ROUND({sql_cosine('q.q_emb', 'a.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM assign a JOIN qprobe q ON a.cell = q.cell
           WHERE a.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "corpus_diversity": f"""
WITH base AS (SELECT label, {sql_l2_norm("embedding", similarity.EMB_DIM)} AS nrm,
                     embedding
              FROM embeddings),
unit AS (SELECT label, nrm,
                unnest(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / GREATEST(nrm, 1e-12))) AS u,
                generate_subscripts(embedding, 1) AS dim
         FROM base),
sums AS (SELECT label, dim, SUM(u) AS s, COUNT(*) AS n, SUM(nrm) AS norm_sum
         FROM unit GROUP BY 1, 2),
pl AS (SELECT label, SUM(s * s) AS ss, MAX(n) AS n,
              MAX(norm_sum) / MAX(n) AS mean_norm
       FROM sums GROUP BY 1)
SELECT label, CAST(n AS BIGINT) AS n_vectors,
       ROUND(CASE WHEN n >= 2 THEN (ss - n) / (n * (n - 1.0)) END, 6) + 0.0
         AS mean_pairwise_cos,
       ROUND(mean_norm, 6) + 0.0 AS mean_norm
FROM pl
""",
    "embedding_drift": """
WITH o AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
n AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
co AS (SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS c
       FROM (SELECT label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS dim FROM o)
       GROUP BY 1, 2),
cn AS (SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS c
       FROM (SELECT label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS dim FROM n)
       GROUP BY 1, 2),
geom AS (SELECT co.label,
                SUM(co.c * cn.c) AS dot,
                SUM(co.c * co.c) AS no_,
                SUM(cn.c * cn.c) AS nn_,
                SUM((co.c - cn.c) * (co.c - cn.c)) AS sq
         FROM co JOIN cn ON co.label = cn.label AND co.dim = cn.dim
         GROUP BY 1),
oc AS (SELECT label, COUNT(*) AS n_old FROM o GROUP BY 1),
nc AS (SELECT label, COUNT(*) AS n_new FROM n GROUP BY 1)
SELECT COALESCE(oc.label, nc.label) AS label, oc.n_old, nc.n_new,
       ROUND(g.dot / NULLIF(SQRT(g.no_) * SQRT(g.nn_), 0), 6) + 0.0 AS centroid_cos,
       ROUND(SQRT(g.sq), 6) + 0.0 AS centroid_l2
FROM oc FULL OUTER JOIN nc ON oc.label = nc.label
LEFT JOIN geom g ON COALESCE(oc.label, nc.label) = g.label
""",
    "label_centroids": """
SELECT label, CAST(dim AS INT) AS dim,
       CAST(FLOOR(AVG(CAST(v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS centroid_micro
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings)
GROUP BY 1, 2
""",
    "embedding_near_dup_pairs": f"""
WITH bucketed AS (SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
                  FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({sql_cosine('a.embedding', 'b.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({sql_cosine('a.embedding', 'b.embedding', similarity.EMB_DIM)}, 6) >= 0.95
""",
    "corpus_funnel": _FUNNEL_CTE + """
final AS (SELECT
  CAST(SUM(1) AS BIGINT) AS d_raw, CAST(SUM(n_tokens) AS BIGINT) AS t_raw,
  CAST(SUM(CASE WHEN rules_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_rules,
  CAST(SUM(CASE WHEN rules_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_rules,
  CAST(SUM(CASE WHEN dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_dedup,
  CAST(SUM(CASE WHEN dedup_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_dedup,
  CAST(SUM(CASE WHEN decontam_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_decontam,
  CAST(SUM(CASE WHEN decontam_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_decontam,
  CAST(SUM(CASE WHEN budget_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_budget,
  CAST(SUM(CASE WHEN budget_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_budget
  FROM b4)
SELECT 'raw' AS stage, CAST(0 AS INT) AS stage_idx,
       d_raw AS n_docs, t_raw AS n_tokens FROM final
UNION ALL SELECT 'rules', CAST(1 AS INT), d_rules, t_rules FROM final
UNION ALL SELECT 'dedup', CAST(2 AS INT), d_dedup, t_dedup FROM final
UNION ALL SELECT 'decontam', CAST(3 AS INT), d_decontam, t_decontam FROM final
UNION ALL SELECT 'budget', CAST(4 AS INT), d_budget, t_budget FROM final
""",
    "corpus_funnel_by_source": _FUNNEL_CTE + """
final AS (SELECT source,
  CAST(SUM(1) AS BIGINT) AS d_raw, CAST(SUM(n_tokens) AS BIGINT) AS t_raw,
  CAST(SUM(CASE WHEN rules_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_rules,
  CAST(SUM(CASE WHEN rules_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_rules,
  CAST(SUM(CASE WHEN dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_dedup,
  CAST(SUM(CASE WHEN dedup_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_dedup,
  CAST(SUM(CASE WHEN decontam_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_decontam,
  CAST(SUM(CASE WHEN decontam_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_decontam,
  CAST(SUM(CASE WHEN budget_ok THEN 1 ELSE 0 END) AS BIGINT) AS d_budget,
  CAST(SUM(CASE WHEN budget_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS t_budget
  FROM b4 GROUP BY source)
SELECT source, 'raw' AS stage, CAST(0 AS INT) AS stage_idx,
       d_raw AS n_docs, t_raw AS n_tokens FROM final
UNION ALL SELECT source, 'rules', CAST(1 AS INT), d_rules, t_rules FROM final
UNION ALL SELECT source, 'dedup', CAST(2 AS INT), d_dedup, t_dedup FROM final
UNION ALL SELECT source, 'decontam', CAST(3 AS INT), d_decontam, t_decontam FROM final
UNION ALL SELECT source, 'budget', CAST(4 AS INT), d_budget, t_budget FROM final
""",
    "curation_drop_reasons": _FUNNEL_CTE + """
reasons AS (SELECT doc_id, source, n_tokens,
       CASE WHEN NOT rules_ok THEN 'rules'
            WHEN NOT dedup_ok THEN 'dedup'
            WHEN NOT decontam_ok THEN 'decontam'
            WHEN NOT budget_ok THEN 'budget'
            ELSE 'kept' END AS dropped_at
FROM b4)
SELECT * FROM reasons
""",
    "quality_thresholds": rf"""
WITH m AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
q AS (SELECT source,
             ROUND(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
                   - 8.0 * (n_punct / n_chars)
                   - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))), 6) AS quality
      FROM m),
th AS (SELECT source, ROUND(quantile_cont(quality, 0.5), 6) AS cutoff
       FROM q GROUP BY source)
SELECT q.source, th.cutoff,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN q.quality >= th.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM q JOIN th ON q.source = th.source
GROUP BY q.source, th.cutoff
""",
    "bpe_merge_candidates": rf"""
WITH w AS (SELECT unnest({_WORDS}) AS word FROM documents),
p AS (SELECT unnest(CASE WHEN strlen(word) >= 2
        THEN list_transform(generate_series(1, strlen(word) - 1),
                            i -> substr(word, i, 2))
        ELSE [] END) AS pair
      FROM w)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
""",
    "rolling_active_users": """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
dau AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY 1),
b AS (SELECT MAX(d) AS max_d FROM ud),
contrib AS (SELECT user_id, d + CAST(k AS INT) AS d
            FROM ud, (SELECT unnest(generate_series(0, 6)) AS k) ks),
wau AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib, b WHERE d <= max_d GROUP BY 1)
SELECT dau.d, dau.dau, wau.wau FROM dau JOIN wau ON dau.d = wau.d
""",
    "sliding_event_counts": """
WITH e AS (SELECT event_type,
                  time_bucket(INTERVAL '15 minutes', ts) AS b
           FROM events),
x AS (SELECT event_type,
             b - (k * INTERVAL '15 minutes') AS window_start
      FROM e, (SELECT unnest(generate_series(0, 3)) AS k) ks)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM x GROUP BY 1, 2, 3
""",
    "dup_rate_by_source": """
WITH h AS (SELECT source, doc_id, md5(text) AS hh FROM documents),
k AS (SELECT hh, MIN(doc_id) AS keep FROM h GROUP BY 1)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN h.doc_id != k.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dupes,
       ROUND(SUM(CASE WHEN h.doc_id != k.keep THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS dup_rate
FROM h JOIN k ON h.hh = k.hh GROUP BY source
""",
    "top_session_paths": """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) IS NULL
                OR (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
with_sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged),
paths AS (
  SELECT user_id, sess_id,
         array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 10),
           '>') AS path
  FROM with_sess GROUP BY 1, 2)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
""",
    "event_transitions": """
WITH s AS (SELECT event_type AS cur_type,
                  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS next_type
           FROM events),
t AS (SELECT cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
m AS (SELECT cur_type, SUM(n_transitions) AS n_cur FROM t GROUP BY 1)
SELECT t.cur_type, t.next_type, t.n_transitions,
       ROUND(CAST(t.n_transitions AS DOUBLE) / m.n_cur, 6) + 0.0 AS p_next
FROM t JOIN m ON t.cur_type = m.cur_type
""",
    # reachability walk = exact connected components, the
    # dedup_clusters recursive-CTE pattern over co-purchase edges
    "copurchase_components": """
WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       FROM op a JOIN op b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
edges AS (SELECT pa AS src, pb AS dst FROM pr UNION SELECT pb, pa FROM pr),
parts AS (SELECT DISTINCT l_partkey AS part_id FROM op),
walk(a, b) AS (SELECT part_id, part_id FROM parts
               UNION
               SELECT w.a, e.dst FROM walk w JOIN edges e ON w.b = e.src)
SELECT a AS part_id, MIN(b) AS community_id FROM walk GROUP BY a
""",
    "copurchase_pairs": """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
pn AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              CAST(COUNT(*) AS BIGINT) AS support
       FROM op a JOIN op b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= 2)
SELECT part_a, part_b, support,
       ROUND(CAST(support AS DOUBLE) * n.n_orders
             / (na.n_part * nb.n_part), 6) + 0.0 AS lift
FROM pr JOIN pn na ON pr.part_a = na.l_partkey
        JOIN pn nb ON pr.part_b = nb.l_partkey
        CROSS JOIN n
ORDER BY support DESC, part_a ASC, part_b ASC
LIMIT 100
""",
    # lam interpolated from the SAME Python float the Spark plan uses
    "decayed_user_value": f"""
WITH p AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
           FROM events WHERE event_type = 'purchase'),
a AS (SELECT MAX(us) AS aus FROM p)
SELECT user_id, COUNT(*) AS n_purchases, ROUND(SUM(value), 2) AS raw_value,
       ROUND(SUM(value * EXP(-({math.log(2.0) / 7.0!r})
                             * ((aus - us) / 86400000000.0))), 6) AS decayed_value
FROM p, a GROUP BY user_id
""",
    "rfm_segments": """
WITH p AS (SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
                  CAST(COUNT(*) AS BIGINT) AS frequency,
                  ROUND(SUM(value), 2) AS monetary
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
a AS (SELECT MAX(last_day) AS anchor FROM p),
u AS (SELECT user_id, CAST(datediff('day', last_day, anchor) AS INT) AS recency_days,
             frequency, monetary FROM p, a),
q AS (SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.25) AS r1,
             quantile_cont(CAST(recency_days AS DOUBLE), 0.5) AS r2,
             quantile_cont(CAST(recency_days AS DOUBLE), 0.75) AS r3,
             quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f1,
             quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS f2,
             quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1,
             quantile_cont(monetary, 0.5) AS m2,
             quantile_cont(monetary, 0.75) AS m3
      FROM u),
s AS (SELECT user_id, recency_days, frequency, monetary,
             CAST(4 - ((CAST(recency_days AS DOUBLE) > r1)::INT
                       + (CAST(recency_days AS DOUBLE) > r2)::INT
                       + (CAST(recency_days AS DOUBLE) > r3)::INT) AS INT) AS r_score,
             CAST(1 + ((CAST(frequency AS DOUBLE) > f1)::INT
                       + (CAST(frequency AS DOUBLE) > f2)::INT
                       + (CAST(frequency AS DOUBLE) > f3)::INT) AS INT) AS f_score,
             CAST(1 + ((monetary > m1)::INT + (monetary > m2)::INT
                       + (monetary > m3)::INT) AS INT) AS m_score
      FROM u, q)
SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
FROM s
""",
    # six sums accumulated in DOUBLE exactly like the Spark side
    # (exact below 2^53; a BIGINT product sum would wrap in Spark and
    # promote to HUGEINT here — divergence at scale), combined with
    # the identical expression (never engine corr())
    "event_type_correlations": """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
                      CAST(COUNT(*) AS DOUBLE) AS n
               FROM events GROUP BY 1, 2),
g AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_days,
             SUM(a.n) AS sx, SUM(b.n) AS sy, SUM(a.n * b.n) AS sxy,
             SUM(a.n * a.n) AS sxx, SUM(b.n * b.n) AS syy
      FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
      GROUP BY 1, 2)
SELECT type_a, type_b, CAST(n_days AS BIGINT) AS n_days,
       ROUND(CASE WHEN CAST(n_days AS DOUBLE) * sxx - sx * sx > 0
                   AND CAST(n_days AS DOUBLE) * syy - sy * sy > 0
            THEN (CAST(n_days AS DOUBLE) * sxy - sx * sy)
                 / SQRT((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n_days AS DOUBLE) * syy - sy * sy))
            END, 6) + 0.0 AS corr_daily_counts
FROM g
""",
    "daily_anomaly_scores": """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                           AS BIGINT) AS day_value_cents
               FROM events GROUP BY 1, 2),
n AS (SELECT *, CAST(d - DATE '1970-01-01' AS BIGINT) AS day_num FROM daily),
sums AS (SELECT event_type, d, day_value_cents,
                COUNT(*) OVER w AS wn,
                CAST(SUM(day_value_cents) OVER w AS BIGINT) AS ws,
                CAST(SUM(day_value_cents * day_value_cents) OVER w
                     AS BIGINT) AS wss
         FROM n
         WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, d, day_value_cents,
       CAST((ws * 1000000) // wn AS BIGINT) AS trailing_avg_cents_micro,
       CAST(FLOOR((CASE WHEN wn >= 2
                         AND (wss - ws * (CAST(ws AS DOUBLE) / wn)) > 0
                   THEN (day_value_cents - CAST(ws AS DOUBLE) / wn)
                        / sqrt((wss - ws * (CAST(ws AS DOUBLE) / wn))
                               / (wn - 1)) END)
                  * 1000000 + 0.5) AS BIGINT) AS z_score_micro
FROM sums
""",
    "semantic_dedup": f"""
WITH cent AS (SELECT label, CAST(dim AS INT) AS dim,
                     ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
              FROM (SELECT label, unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings)
              GROUP BY 1, 2),
cent_arr AS (SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label),
dists AS (SELECT e.vec_id, e.embedding, c.label,
                 list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                      * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (x, y) -> x + y) AS d2
          FROM embeddings e CROSS JOIN cent_arr c),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, label ASC) AS rk
           FROM dists),
assign AS (SELECT vec_id, embedding, label AS cell FROM ranked WHERE rk = 1),
pairs AS (SELECT a.vec_id,
                 ROUND({sql_cosine('a.embedding', 'b.embedding', similarity.EMB_DIM)}, 6) AS sim
          FROM assign a JOIN assign b
            ON a.cell = b.cell AND b.vec_id < a.vec_id),
dup AS (SELECT vec_id, MAX(sim) AS m FROM pairs
        WHERE sim >= {similarity.SEMDEDUP_THRESHOLD} GROUP BY vec_id)
SELECT a.vec_id, a.cell, (d.m IS NULL) AS kept,
       ROUND(COALESCE(d.m, 0.0), 6) AS max_dup_sim
FROM assign a LEFT JOIN dup d ON a.vec_id = d.vec_id
""",
    "hard_negatives": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
           FROM embeddings WHERE vec_id < {similarity.DEFAULT_N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                  e.label AS neighbor_label,
                  ROUND({sql_cosine('q.q_emb', 'e.embedding', similarity.EMB_DIM)}, 6) AS cos_sim
           FROM embeddings e JOIN q ON e.label != q.q_label)
SELECT query_id, neighbor_id, neighbor_label, cos_sim, CAST(rk AS INT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM scored)
WHERE rk <= {similarity.DEFAULT_K}
""",
    "gopher_quality_flags": f"""
WITH w AS (SELECT doc_id, source, {sql_words('text')} AS ws FROM documents),
m AS (SELECT doc_id, source,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST((CAST(list_sum(list_transform(ws, x -> strlen(x)))
                        AS BIGINT) * 1000000) // len(ws) AS BIGINT)
               AS mean_word_len_micro,
             CAST((CAST(len(list_distinct(ws)) AS BIGINT) * 1000000)
                  // len(ws) AS BIGINT) AS unique_word_frac_micro,
             CAST(len(list_filter(ws,
               x -> x IN ({', '.join(f"'{w}'" for w in text.EN_STOPWORDS)})))
               AS BIGINT) AS stop_hits
      FROM w)
SELECT doc_id, source, n_words, mean_word_len_micro, unique_word_frac_micro,
       stop_hits,
       (n_words >= {text.GOPHER_MIN_WORDS} AND n_words <= {text.GOPHER_MAX_WORDS})
         AS word_count_ok,
       (mean_word_len_micro >= {text.GOPHER_MIN_MEAN_WORD_LEN_MICRO}
        AND mean_word_len_micro <= {text.GOPHER_MAX_MEAN_WORD_LEN_MICRO})
         AS word_len_ok,
       (unique_word_frac_micro >= {text.GOPHER_MIN_UNIQUE_FRAC_MICRO})
         AS diversity_ok,
       (stop_hits >= {text.GOPHER_MIN_STOP_HITS}) AS stopword_ok,
       ((n_words >= {text.GOPHER_MIN_WORDS} AND n_words <= {text.GOPHER_MAX_WORDS})
        AND (mean_word_len_micro >= {text.GOPHER_MIN_MEAN_WORD_LEN_MICRO}
             AND mean_word_len_micro <= {text.GOPHER_MAX_MEAN_WORD_LEN_MICRO})
        AND (unique_word_frac_micro >= {text.GOPHER_MIN_UNIQUE_FRAC_MICRO})
        AND (stop_hits >= {text.GOPHER_MIN_STOP_HITS})) AS keep
FROM m
""",
    "balanced_shards": f"""
WITH t AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents),
r AS (SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rank
      FROM t)
SELECT doc_id, n_tokens, CAST(rank AS BIGINT) AS rank,
       CAST((rank - 1) % {packing.N_SHARDS} AS INT) AS shard
FROM r
""",
    "shard_balance": f"""
WITH t AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents),
r AS (SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rank
      FROM t),
a AS (SELECT n_tokens, CAST((rank - 1) % {packing.N_SHARDS} AS INT) AS shard FROM r),
tot AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM a GROUP BY shard)
SELECT shard, n_docs, total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE)
             / (SELECT CAST(SUM(total_tokens) AS DOUBLE) FROM tot), 6)
         AS token_share
FROM tot
""",
    "shard_manifest": f"""
WITH t AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents),
r AS (SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rank
      FROM t),
a AS (SELECT doc_id, n_tokens, CAST((rank - 1) % {packing.N_SHARDS} AS INT) AS shard
      FROM r),
m AS (SELECT doc_id, {sql_hash32("md5(text)", salt="manifest")} AS h
      FROM documents)
SELECT a.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(a.n_tokens) AS BIGINT) AS total_tokens,
       MIN(a.doc_id) AS min_doc_id, MAX(a.doc_id) AS max_doc_id,
       CAST(SUM(m.h) AS BIGINT) AS content_checksum
FROM a JOIN m ON a.doc_id = m.doc_id
GROUP BY a.shard
""",
    "multimodal_thumbnails": """
WITH d AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nb,
                  16 + (strlen(text) * 7) % 624 AS w,
                  16 + (strlen(text) * 13) % 464 AS h
           FROM documents),
t AS (SELECT doc_id, nb, w, h, GREATEST(w, h) AS ls FROM d)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CASE WHEN ls > 64 THEN GREATEST(w * 64 // ls, 1) ELSE w END AS INT) AS thumb_width,
       CAST(CASE WHEN ls > 64 THEN GREATEST(h * 64 // ls, 1) ELSE h END AS INT) AS thumb_height,
       CAST(LEAST((CASE WHEN ls > 64 THEN GREATEST(w * 64 // ls, 1) ELSE w END)
                  * (CASE WHEN ls > 64 THEN GREATEST(h * 64 // ls, 1) ELSE h END)
                  * 3, nb) AS INT) AS thumb_n_bytes
FROM t
""",
    "multimodal_features": """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(16 + (strlen(text) * 7) % 624 AS INT) AS width,
       CAST(16 + (strlen(text) * 13) % 464 AS INT) AS height,
       CAST(1 + strlen(text) % 16 AS INT) AS n_frames
FROM documents
""",
}

# The PRE-r07 quality_scores oracle, byte-identical to what the
# certified quality_psi_by_source / curation_scores oracles embedded
# at their green rounds: those two queries' Spark plans still compose
# the legacy rounded-double quality operator, so their embedded
# oracle SQL must not follow the quality_scores contract migration.
_QUALITY_SQL_LEGACY = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       ROUND((n_chars - (n_tok - 1)) / n_tok, 6) AS mean_token_len,
       ROUND(n_punct / n_chars, 6) AS punct_ratio,
       ROUND(n_stop / n_tok, 6) AS stopword_ratio,
       ROUND(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok + 4.0 * (n_stop / n_tok)
             - 8.0 * (n_punct / n_chars)
             - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))), 6) AS quality
FROM m
"""

ORACLES["quality_psi_by_source"] = f"""
WITH q AS (SELECT doc_id, quality FROM ({_QUALITY_SQL_LEGACY})),
sc AS (SELECT d.source,
              CAST(LEAST(9, GREATEST(0, FLOOR(q.quality * 10))) AS INT)
                AS bucket,
              CASE WHEN d.doc_id % 5 != 0 THEN 1 ELSE 0 END AS is_base
       FROM documents d JOIN q ON q.doc_id = d.doc_id),
counts AS (SELECT source, bucket, SUM(is_base) AS nb,
                  COUNT(*) - SUM(is_base) AS nc
           FROM sc GROUP BY 1, 2),
grid AS (SELECT source, CAST(g AS INT) AS bucket
         FROM (SELECT DISTINCT source FROM counts),
              UNNEST(generate_series(0, 9)) AS t(g)),
filled AS (SELECT g.source, g.bucket,
                  COALESCE(c.nb, 0) AS nb, COALESCE(c.nc, 0) AS nc
           FROM grid g LEFT JOIN counts c
             ON c.source = g.source AND c.bucket = g.bucket),
tot AS (SELECT source, SUM(nb) AS tb, SUM(nc) AS tc
        FROM filled GROUP BY 1),
terms AS (SELECT f.source, t.tb, t.tc,
                 (((CASE WHEN t.tc > 0 THEN CAST(f.nc AS DOUBLE) / t.tc
                         ELSE 0.0 END + 0.001) / 1.01)
                  - ((CASE WHEN t.tb > 0 THEN CAST(f.nb AS DOUBLE) / t.tb
                          ELSE 0.0 END + 0.001) / 1.01)) *
                 ln(((CASE WHEN t.tc > 0 THEN CAST(f.nc AS DOUBLE) / t.tc
                           ELSE 0.0 END + 0.001) / 1.01) /
                    ((CASE WHEN t.tb > 0 THEN CAST(f.nb AS DOUBLE) / t.tb
                           ELSE 0.0 END + 0.001) / 1.01)) AS term
          FROM filled f JOIN tot t ON t.source = f.source)
SELECT source, CAST(MAX(tb) AS BIGINT) AS n_baseline,
       CAST(MAX(tc) AS BIGINT) AS n_current,
       ROUND(SUM(term), 6) + 0.0 AS psi
FROM terms GROUP BY source
"""

ORACLES["l_diversity_report"] = text.sql_l_diversity_report()
ORACLES["t_closeness_report"] = text.sql_t_closeness_report()

ORACLES["conversion_survival"] = temporal.sql_conversion_survival()

ORACLES["retrieval_eval"] = f"""
WITH ranked AS ({ORACLES["bm25_topk"]}),
rtoks AS (SELECT doc_id, unnest({_WORDS}) AS term FROM documents),
rq(query_id, term) AS (VALUES {", ".join(f"('{qid}', '{t}')" for qid, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES))}),
nq AS (SELECT query_id, COUNT(DISTINCT term) AS n_terms FROM rq GROUP BY 1),
dterm AS (SELECT DISTINCT doc_id, term FROM rtoks
          WHERE term IN ({", ".join(sorted({f"'{t}'" for _, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES)}))})),
rel AS (SELECT qt.query_id, d.doc_id
        FROM dterm d JOIN rq qt ON qt.term = d.term
        JOIN nq ON nq.query_id = qt.query_id
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT d.term) = ANY_VALUE(nq.n_terms)),
hit AS (SELECT r.query_id, MIN(r.rank) AS first_rel_rank
        FROM ranked r
        JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
        GROUP BY 1),
nrel AS (SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY 1),
qids(query_id) AS (VALUES {", ".join(f"('{qid}')" for qid in sorted(retrieval.BM25_QUERIES))})
SELECT qids.query_id,
       CAST(COALESCE(nrel.n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST(COALESCE(hit.first_rel_rank, 0) AS INT) AS first_rel_rank,
       CAST(CASE WHEN hit.first_rel_rank IS NULL THEN 0
                 ELSE 1000000 // hit.first_rel_rank END AS BIGINT) AS rr_u
FROM qids LEFT JOIN nrel USING (query_id) LEFT JOIN hit USING (query_id)
"""

ORACLES["retrieval_ndcg"] = f"""
WITH ranked AS ({ORACLES["bm25_topk"]}),
rtoks AS (SELECT doc_id, unnest({_WORDS}) AS term FROM documents),
rq(query_id, term) AS (VALUES {", ".join(f"('{qid}', '{t}')" for qid, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES))}),
nq AS (SELECT query_id, COUNT(DISTINCT term) AS n_terms FROM rq GROUP BY 1),
dterm AS (SELECT DISTINCT doc_id, term FROM rtoks
          WHERE term IN ({", ".join(sorted({f"'{t}'" for _, t in retrieval.query_term_pairs(retrieval.BM25_QUERIES)}))})),
rel AS (SELECT qt.query_id, d.doc_id
        FROM dterm d JOIN rq qt ON qt.term = d.term
        JOIN nq ON nq.query_id = qt.query_id
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT d.term) = ANY_VALUE(nq.n_terms)),
dcg AS (SELECT r.query_id,
               CAST(SUM(CAST(FLOOR(1000000.0 / log2(r.rank + 1.0) + 0.5)
                             AS BIGINT)) AS BIGINT) AS dcg_u
        FROM ranked r
        JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
        GROUP BY 1),
nrel AS (SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY 1),
idcg AS (SELECT query_id,
                CAST(list_sum(list_transform(
                       generate_series(1, LEAST(n_relevant, {retrieval.BM25_K})),
                       i -> CAST(FLOOR(1000000.0 / log2(i + 1.0) + 0.5)
                                 AS BIGINT))) AS BIGINT) AS idcg_u
         FROM nrel),
qids(query_id) AS (VALUES {", ".join(f"('{qid}')" for qid in sorted(retrieval.BM25_QUERIES))})
SELECT qids.query_id,
       CAST(COALESCE(nrel.n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST(COALESCE(dcg.dcg_u, 0) AS BIGINT) AS dcg_micro,
       CAST(COALESCE(idcg.idcg_u, 0) AS BIGINT) AS idcg_micro,
       CAST((COALESCE(dcg.dcg_u, 0) * 1000000)
            // GREATEST(COALESCE(idcg.idcg_u, 0), 1) AS BIGINT) AS ndcg_micro
FROM qids LEFT JOIN nrel USING (query_id)
LEFT JOIN dcg USING (query_id) LEFT JOIN idcg USING (query_id)
"""

ORACLES["pareto_revenue_share"] = """
WITH pu AS (SELECT user_id,
                   SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     AS spend_cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
q AS (SELECT SUM(spend_cents) AS total,
             quantile_cont(CAST(spend_cents AS DOUBLE), 0.99) AS t1,
             quantile_cont(CAST(spend_cents AS DOUBLE), 0.95) AS t5,
             quantile_cont(CAST(spend_cents AS DOUBLE), 0.90) AS t10,
             quantile_cont(CAST(spend_cents AS DOUBLE), 0.80) AS t20,
             quantile_cont(CAST(spend_cents AS DOUBLE), 0.50) AS t50
      FROM pu),
g AS (SELECT
        CAST(SUM(CASE WHEN spend_cents >= t1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN spend_cents >= t1 THEN spend_cents ELSE 0 END)
             AS BIGINT) AS r1,
        CAST(SUM(CASE WHEN spend_cents >= t5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n5,
        CAST(SUM(CASE WHEN spend_cents >= t5 THEN spend_cents ELSE 0 END)
             AS BIGINT) AS r5,
        CAST(SUM(CASE WHEN spend_cents >= t10 THEN 1 ELSE 0 END)
             AS BIGINT) AS n10,
        CAST(SUM(CASE WHEN spend_cents >= t10 THEN spend_cents ELSE 0 END)
             AS BIGINT) AS r10,
        CAST(SUM(CASE WHEN spend_cents >= t20 THEN 1 ELSE 0 END)
             AS BIGINT) AS n20,
        CAST(SUM(CASE WHEN spend_cents >= t20 THEN spend_cents ELSE 0 END)
             AS BIGINT) AS r20,
        CAST(SUM(CASE WHEN spend_cents >= t50 THEN 1 ELSE 0 END)
             AS BIGINT) AS n50,
        CAST(SUM(CASE WHEN spend_cents >= t50 THEN spend_cents ELSE 0 END)
             AS BIGINT) AS r50,
        MAX(t1) AS t1, MAX(t5) AS t5, MAX(t10) AS t10,
        MAX(t20) AS t20, MAX(t50) AS t50, MAX(total) AS total
      FROM pu, q)
SELECT 1 AS top_pct,
       CAST(FLOOR(t1 * 10000 + 0.5) AS BIGINT) AS threshold_value_micro,
       n1 AS n_users, r1 AS revenue_cents,
       CAST(FLOOR(CAST(r1 AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
         AS revenue_share_micro FROM g
UNION ALL SELECT 5, CAST(FLOOR(t5 * 10000 + 0.5) AS BIGINT), n5, r5,
       CAST(FLOOR(CAST(r5 AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
       FROM g
UNION ALL SELECT 10, CAST(FLOOR(t10 * 10000 + 0.5) AS BIGINT), n10, r10,
       CAST(FLOOR(CAST(r10 AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
       FROM g
UNION ALL SELECT 20, CAST(FLOOR(t20 * 10000 + 0.5) AS BIGINT), n20, r20,
       CAST(FLOOR(CAST(r20 AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
       FROM g
UNION ALL SELECT 50, CAST(FLOOR(t50 * 10000 + 0.5) AS BIGINT), n50, r50,
       CAST(FLOOR(CAST(r50 AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
       FROM g
"""

ORACLES["time_of_week_profile"] = """
SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour,
       COUNT(*) AS n_events,
       CAST(FLOOR(AVG(value) * 1000000 + 0.5) AS BIGINT) AS avg_value_micro
FROM events GROUP BY 1, 2
"""

ORACLES["user_lifecycle_stages"] = """
WITH u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
                  MAX(CAST(ts AS DATE)) AS last_d
           FROM events GROUP BY 1),
h AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
s AS (SELECT CASE
        WHEN datediff('day', first_d, max_d) <= 7 THEN 'new'
        WHEN datediff('day', last_d, max_d) <= 7 THEN 'active'
        WHEN datediff('day', last_d, max_d) <= 21 THEN 'at_risk'
        ELSE 'churned' END AS stage
      FROM u, h)
SELECT stage, COUNT(*) AS n_users FROM s GROUP BY 1
"""

ORACLES["corpus_datasheet"] = rf"""
WITH m AS (
  SELECT doc_id, source, lang,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
         FLOOR(1.0 / (1.0 + exp(-(-2.0
               + 0.02 * CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
               + 4.0 * (CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE)
                        / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE))
               - 8.0 * (CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE))
               - 0.1 * abs((CAST(length(text) AS DOUBLE)
                            - (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) - 1))
                           / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
                           - 5.0)))) * 1000000 + 0.5) / 1000000 AS q
  FROM documents),
one AS (
  SELECT COUNT(*) AS n_docs,
         SUM(nt) AS n_tokens,
         CAST(FLOOR(AVG(nt) * 1000000 + 0.5) AS BIGINT)
           AS mean_tokens_per_doc_micro,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT h) AS n_uniq,
         CAST(FLOOR(quantile_cont(q, 0.25) * 1000000 + 0.5) AS BIGINT)
           AS q25_micro,
         CAST(FLOOR(quantile_cont(q, 0.5) * 1000000 + 0.5) AS BIGINT)
           AS q50_micro,
         CAST(FLOOR(quantile_cont(q, 0.75) * 1000000 + 0.5) AS BIGINT)
           AS q75_micro
  FROM m)
SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM one
UNION ALL SELECT 'n_tokens', CAST(n_tokens AS BIGINT) FROM one
UNION ALL SELECT 'mean_tokens_per_doc_micro', mean_tokens_per_doc_micro
  FROM one
UNION ALL SELECT 'n_sources', CAST(n_sources AS BIGINT) FROM one
UNION ALL SELECT 'n_langs', CAST(n_langs AS BIGINT) FROM one
UNION ALL SELECT 'dup_rate_micro',
  CAST(FLOOR(CAST(n_docs - n_uniq AS DOUBLE) / n_docs * 1000000 + 0.5)
    AS BIGINT) FROM one
UNION ALL SELECT 'q25_micro', q25_micro FROM one
UNION ALL SELECT 'q50_micro', q50_micro FROM one
UNION ALL SELECT 'q75_micro', q75_micro FROM one
"""

ORACLES["ivf_recall_report"] = f"""
WITH truth AS (SELECT query_id, neighbor_id
               FROM ({ORACLES["knn_bruteforce"]}) x),
ivf AS (SELECT query_id, neighbor_id FROM ({ORACLES["ivf_ann_topk"]}) y),
hit AS (SELECT t.query_id FROM truth t
        JOIN ivf i ON t.query_id = i.query_id
                  AND t.neighbor_id = i.neighbor_id)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM ivf) AS n_ivf,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       CAST(FLOOR(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0) * 1000000 + 0.5)
         AS BIGINT) AS recall_micro
"""

ORACLES["join_fanout_topk"] = """
WITH lc AS (SELECT user_id AS key, COUNT(*) AS n_left
            FROM events GROUP BY 1),
rc AS (SELECT user_id AS key, COUNT(*) AS n_right
       FROM events GROUP BY 1)
SELECT lc.key, lc.n_left, rc.n_right,
       lc.n_left * rc.n_right AS n_out_rows
FROM lc JOIN rc ON lc.key = rc.key
ORDER BY n_out_rows DESC, lc.key ASC
LIMIT 10
"""


def _rfm_sql_cte(sfx: str, where: str) -> str:
    """The rfm_segments CTE chain parameterized by a name suffix and a
    purchase-date predicate — rendered twice by the rfm_migration
    oracle (each half scored against its own population, exactly like
    the Spark side's rfm_segments over filtered events)."""
    return f"""
p{sfx} AS (SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
                  CAST(COUNT(*) AS BIGINT) AS frequency,
                  ROUND(SUM(value), 2) AS monetary
           FROM events WHERE event_type = 'purchase' AND {where}
           GROUP BY 1),
a{sfx} AS (SELECT MAX(last_day) AS anchor FROM p{sfx}),
u{sfx} AS (SELECT user_id,
                  CAST(datediff('day', last_day, anchor) AS INT) AS recency_days,
                  frequency, monetary FROM p{sfx}, a{sfx}),
q{sfx} AS (SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.25) AS r1,
                  quantile_cont(CAST(recency_days AS DOUBLE), 0.5) AS r2,
                  quantile_cont(CAST(recency_days AS DOUBLE), 0.75) AS r3,
                  quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f1,
                  quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS f2,
                  quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f3,
                  quantile_cont(monetary, 0.25) AS m1,
                  quantile_cont(monetary, 0.5) AS m2,
                  quantile_cont(monetary, 0.75) AS m3
           FROM u{sfx}),
s{sfx} AS (SELECT user_id,
                  CAST((4 - ((CAST(recency_days AS DOUBLE) > r1)::INT
                             + (CAST(recency_days AS DOUBLE) > r2)::INT
                             + (CAST(recency_days AS DOUBLE) > r3)::INT)) * 100
                       + (1 + ((CAST(frequency AS DOUBLE) > f1)::INT
                               + (CAST(frequency AS DOUBLE) > f2)::INT
                               + (CAST(frequency AS DOUBLE) > f3)::INT)) * 10
                       + (1 + ((monetary > m1)::INT + (monetary > m2)::INT
                               + (monetary > m3)::INT)) AS INT) AS rfm
           FROM u{sfx}, q{sfx})"""


ORACLES["rfm_migration"] = f"""
WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS dmin,
                       MAX(CAST(ts AS DATE)) AS dmax
                FROM events WHERE event_type = 'purchase'),
mid AS (SELECT dmin + CAST((dmax - dmin) // 2 AS INT) AS m FROM bounds),
{_rfm_sql_cte('b', "CAST(ts AS DATE) < (SELECT m FROM mid)")},
{_rfm_sql_cte('a', "CAST(ts AS DATE) >= (SELECT m FROM mid)")}
SELECT COALESCE(CAST(sb.rfm AS VARCHAR), 'new') AS seg_before,
       COALESCE(CAST(sa.rfm AS VARCHAR), 'churned') AS seg_after,
       COUNT(*) AS n_users
FROM sb FULL OUTER JOIN sa USING (user_id)
GROUP BY 1, 2
"""

ORACLES["basket_rules"] = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
pn AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              CAST(COUNT(*) AS BIGINT) AS support
       FROM op a JOIN op b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       HAVING COUNT(*) >= 2),
d AS (SELECT part_a AS antecedent, part_b AS consequent, support FROM pr
      UNION ALL
      SELECT part_b AS antecedent, part_a AS consequent, support FROM pr)
SELECT d.antecedent, d.consequent, d.support,
       CAST(FLOOR(CAST(d.support AS DOUBLE) / na.n_part * 1000000 + 0.5)
         AS BIGINT) AS confidence_micro,
       CAST(FLOOR(CAST(d.support AS DOUBLE) * n.n_orders
             / (na.n_part * nb.n_part) * 1000000 + 0.5)
         AS BIGINT) AS lift_micro
FROM d JOIN pn na ON d.antecedent = na.l_partkey
       JOIN pn nb ON d.consequent = nb.l_partkey
       CROSS JOIN n
ORDER BY support DESC, antecedent ASC, consequent ASC
LIMIT 200
"""

ORACLES["position_attribution"] = """
WITH t AS (SELECT user_id, event_id AS t_id, ts AS t_ts,
                  event_type AS channel
           FROM events WHERE event_type IN ('click', 'view')),
p AS (SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'),
j AS (SELECT p.p_id, p.p_value, t.channel, t.t_ts, t.t_id
      FROM p LEFT JOIN t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR),
pos AS (SELECT p_id, p_value, channel, t_ts,
               COUNT(t_ts) OVER (PARTITION BY p_id) AS nt,
               ROW_NUMBER() OVER (PARTITION BY p_id
                 ORDER BY t_ts ASC NULLS FIRST, t_id ASC NULLS FIRST) AS pos
        FROM j),
wt AS (SELECT p_id, p_value, channel, t_ts,
              CASE WHEN nt <= 1 THEN 1.0
                   WHEN nt = 2 THEN 0.5
                   WHEN pos = 1 OR pos = nt THEN 0.4
                   ELSE 0.2 / (nt - 2) END AS w
       FROM pos),
sel AS (SELECT COALESCE(channel, 'direct') AS channel,
               CASE WHEN t_ts IS NOT NULL THEN 1 ELSE 0 END AS is_touch,
               CAST(FLOOR(p_value * w * 1000000 + 0.5) AS BIGINT) AS attr_u
        FROM wt)
SELECT channel, CAST(SUM(is_touch) AS BIGINT) AS n_touches,
       CAST(SUM(attr_u) AS BIGINT) AS attributed_value_micro
FROM sel GROUP BY channel
"""

ORACLES["embedding_outliers"] = f"""
WITH ex AS (SELECT vec_id, label, CAST(dim AS INT) AS dim,
                   CAST(v AS DOUBLE) AS v
            FROM (SELECT vec_id, label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS dim
                  FROM embeddings)),
cent AS (SELECT label, dim, FLOOR(AVG(v) * 1000000 + 0.5) / 1000000 AS c
         FROM ex GROUP BY 1, 2),
d2 AS (SELECT ex.vec_id, ex.label,
              CAST(FLOOR(SUM((ex.v - cent.c) * (ex.v - cent.c))
                         * 1000000 + 0.5) AS BIGINT) AS d2_micro
       FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
       GROUP BY 1, 2),
mom AS (SELECT label, COUNT(*) AS n, SUM(d2_micro) AS sx,
               SUM((CAST(d2_micro AS DOUBLE) / 1000000.0)
                   * (CAST(d2_micro AS DOUBLE) / 1000000.0)) AS sxx
        FROM d2 GROUP BY 1),
zt AS (SELECT d2.vec_id, d2.label, d2.d2_micro,
       CAST(FLOOR((CAST(d2.d2_micro AS DOUBLE) / 1000000.0
              - CAST(mom.sx AS DOUBLE) / 1000000.0 / mom.n)
             / GREATEST(SQRT(GREATEST(mom.sxx / mom.n
                 - (CAST(mom.sx AS DOUBLE) / 1000000.0 / mom.n)
                   * (CAST(mom.sx AS DOUBLE) / 1000000.0 / mom.n), 0.0)),
               1e-12) * 1000000 + 0.5) AS BIGINT) AS z_micro
       FROM d2 JOIN mom ON d2.label = mom.label)
SELECT vec_id, label, d2_micro, z_micro FROM zt
WHERE z_micro > {int(similarity.OUTLIER_Z * 1_000_000)}
"""

ORACLES["cohort_ltv"] = """
WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
sized AS (SELECT user_id,
            CAST(FLOOR(datediff('day', DATE '2024-01-01', d0) / 7.0) AS INT)
              AS cohort_week
          FROM fs),
cs AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM sized GROUP BY 1),
p AS (SELECT e.user_id,
        CAST(FLOOR(datediff('day', DATE '2024-01-01', fs.d0) / 7.0) AS INT)
          AS cohort_week,
        CAST(FLOOR(datediff('day', fs.d0, CAST(e.ts AS DATE)) / 7.0) AS INT)
          AS week_offset,
        e.value
      FROM events e JOIN fs USING (user_id) WHERE e.event_type = 'purchase'),
cell AS (SELECT cohort_week, week_offset,
                COUNT(DISTINCT user_id) AS n_purchasers,
                CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS revenue_cents
         FROM p GROUP BY 1, 2)
SELECT c.cohort_week, c.week_offset, c.n_purchasers, c.revenue_cents,
       CAST(FLOOR(CAST(SUM(c.revenue_cents) OVER (
               PARTITION BY c.cohort_week ORDER BY c.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / (100.0 * cs.n_cohort) * 1000000 + 0.5)
         AS BIGINT) AS cum_revenue_per_cohort_user_micro
FROM cell c JOIN cs USING (cohort_week)
"""

ORACLES["kmv_value_quantiles"] = _sketch.sql_kmv_value_quantiles()
ORACLES["kmv_value_quantiles_by_type"] = (
    _sketch.sql_kmv_value_quantiles_by_type()
)


ORACLES["quality_matched_sample"] = rf"""
WITH m0 AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
sb AS (
  SELECT doc_id, source,
         CAST(LEAST(9,
           CAST(FLOOR(1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok
                 + 4.0 * (n_stop / n_tok)
                 - 8.0 * (n_punct / n_chars)
                 - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0))))
               * 1000000 + 0.5) AS BIGINT) // 100000) AS INT) AS bucket
  FROM m0),
gb AS (SELECT source, bucket, COUNT(*) AS n_gb FROM sb GROUP BY 1, 2),
g AS (SELECT source, SUM(n_gb) AS n_g FROM gb GROUP BY 1),
b AS (SELECT bucket, SUM(n_gb) AS n_b FROM gb GROUP BY 1),
n AS (SELECT SUM(n_gb) AS n FROM gb),
r AS (SELECT gb.source, gb.bucket,
             CAST(FLOOR(LEAST(1.0,
                 (CAST(b.n_b AS DOUBLE) * g.n_g)
                 / (CAST(n.n AS DOUBLE) * gb.n_gb)) * 1000000 + 0.5)
               AS BIGINT) AS thr
      FROM gb JOIN g USING (source) JOIN b USING (bucket) CROSS JOIN n)
SELECT sb.doc_id, sb.source, sb.bucket
FROM sb JOIN r ON sb.source = r.source AND sb.bucket = r.bucket
WHERE {sql_hash32("CAST(sb.doc_id AS VARCHAR)", salt="qmatch")} % 1000000 < r.thr
"""


ORACLES["boilerplate_lines"] = """
WITH s AS (SELECT doc_id,
                  lower(trim(unnest(
                    regexp_extract_all(text, '[^.!?]+[.!?]?')))) AS line
           FROM documents)
SELECT line, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM s WHERE length(line) > 0
GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
"""

ORACLES["line_dedup"] = """
WITH s0 AS (SELECT doc_id,
                   unnest(regexp_extract_all(text, '[^.!?]+[.!?]?')) AS sent,
                   generate_subscripts(
                     regexp_extract_all(text, '[^.!?]+[.!?]?'), 1) - 1 AS idx
            FROM documents),
s AS (SELECT doc_id, idx, trim(sent) AS sent, lower(trim(sent)) AS line
      FROM s0 WHERE length(trim(sent)) > 0),
first AS (SELECT line, doc_id, idx, TRUE AS keep FROM (
            SELECT line, doc_id, idx,
                   ROW_NUMBER() OVER (PARTITION BY line
                                      ORDER BY doc_id ASC, idx ASC) AS rn
            FROM s) WHERE rn = 1),
m AS (SELECT s.doc_id, s.idx, s.sent, first.keep
      FROM s LEFT JOIN first
        ON s.line = first.line AND s.doc_id = first.doc_id
       AND s.idx = first.idx),
pd AS (SELECT doc_id, COUNT(*) AS n_lines,
              SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
              COALESCE(string_agg(CASE WHEN keep THEN sent END, ' '
                                  ORDER BY idx), '') AS text_deduped
       FROM m GROUP BY 1)
SELECT d.doc_id,
       COALESCE(pd.n_lines, 0) AS n_lines,
       CAST(COALESCE(pd.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(pd.text_deduped, '') AS text_deduped
FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
"""

ORACLES["token_waterfill"] = sampling.sql_token_waterfill()


ORACLES["boilerplate_shingles"] = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM s GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 5
"""


ORACLES["strip_boilerplate"] = """
WITH s0 AS (SELECT doc_id,
                   unnest(regexp_extract_all(text, '[^.!?]+[.!?]?')) AS sent,
                   generate_subscripts(
                     regexp_extract_all(text, '[^.!?]+[.!?]?'), 1) - 1 AS idx
            FROM documents),
s AS (SELECT doc_id, idx, trim(sent) AS sent, lower(trim(sent)) AS line
      FROM s0 WHERE length(trim(sent)) > 0),
bp AS (SELECT line, TRUE AS is_bp FROM s
       GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
m AS (SELECT s.doc_id, s.idx, s.sent, bp.is_bp
      FROM s LEFT JOIN bp USING (line)),
pd AS (SELECT doc_id, COUNT(*) AS n_lines,
              SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_struck,
              COALESCE(string_agg(CASE WHEN is_bp IS NULL THEN sent END, ' '
                                  ORDER BY idx), '') AS text_clean
       FROM m GROUP BY 1)
SELECT d.doc_id,
       COALESCE(pd.n_lines, 0) AS n_lines,
       CAST(COALESCE(pd.n_struck, 0) AS BIGINT) AS n_struck,
       COALESCE(pd.text_clean, '') AS text_clean
FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
"""


ORACLES["quality_ks_by_source"] = rf"""
WITH m AS (
  SELECT source,
         CAST(FLOOR(1.0 / (1.0 + exp(-(-2.0
               + 0.02 * CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
               + 4.0 * (CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE)
                        / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE))
               - 8.0 * (CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE))
               - 0.1 * abs((CAST(length(text) AS DOUBLE)
                            - (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) - 1))
                           / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
                           - 5.0)))) * 1000000 + 0.5) AS BIGINT) AS qm
  FROM documents),
sq AS (SELECT source, qm, COUNT(*) AS c_s FROM m GROUP BY 1, 2),
grid AS (SELECT qm, SUM(c_s) AS c_all FROM sq GROUP BY 1),
gc AS (SELECT qm, SUM(c_all) OVER (ORDER BY qm
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
       FROM grid),
src AS (SELECT source, SUM(c_s) AS n_s FROM sq GROUP BY 1),
tot AS (SELECT SUM(c_all) AS n_all FROM grid),
fr AS (SELECT src.source, gc.qm, src.n_s, gc.cum_all,
              COALESCE(sq.c_s, 0) AS c_s
       FROM src CROSS JOIN gc
       LEFT JOIN sq ON sq.source = src.source AND sq.qm = gc.qm),
d AS (SELECT source, n_s,
             ABS(CAST(SUM(c_s) OVER (PARTITION BY source ORDER BY qm
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / n_s
                 - CAST(cum_all AS DOUBLE) / tot.n_all) AS dd
      FROM fr, tot)
SELECT source, CAST(n_s AS BIGINT) AS n_docs,
       CAST(FLOOR(MAX(dd) * 1000000 + 0.5) AS BIGINT) AS d_stat_micro
FROM d GROUP BY 1, 2
"""


ORACLES["value_benford_by_type"] = """
WITH dg AS (SELECT event_type,
                   CAST(substr(CAST(CAST(FLOOR(ABS(value) * 100 + 0.5)
                     AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
            FROM events WHERE value != 0),
c AS (SELECT event_type, digit, COUNT(*) AS n FROM dg
      WHERE digit >= 1 GROUP BY 1, 2),
ty AS (SELECT DISTINCT event_type FROM c),
ben(digit, p) AS (VALUES (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829993), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)),
tot AS (SELECT event_type, SUM(n) AS tt FROM c GROUP BY 1)
SELECT ty.event_type, ben.digit, COALESCE(c.n, 0) AS n,
       CAST(FLOOR(CAST(COALESCE(c.n, 0) AS DOUBLE) / tot.tt * 1000000
            + 0.5) AS BIGINT) AS share_micro,
       CAST(FLOOR(CAST(ben.p AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
         AS benford_micro,
       CAST(FLOOR(ABS(CAST(COALESCE(c.n, 0) AS DOUBLE) / tot.tt
            - CAST(ben.p AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS dev_micro
FROM ty CROSS JOIN ben
LEFT JOIN c ON c.event_type = ty.event_type AND c.digit = ben.digit
JOIN tot ON tot.event_type = ty.event_type
"""


ORACLES["value_ks_by_type"] = """
WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
           FROM events),
ev AS (SELECT event_type,
              CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
              CASE WHEN CAST(ts AS DATE)
                        < dmin + CAST((dmax - dmin) // 2 AS INT)
                   THEN 1 ELSE 0 END AS is_base
       FROM events, b),
c AS (SELECT event_type, cents, SUM(is_base) AS nb,
             COUNT(*) - SUM(is_base) AS nc
      FROM ev GROUP BY 1, 2),
t AS (SELECT event_type, SUM(nb) AS tb, SUM(nc) AS tc FROM c GROUP BY 1),
d AS (SELECT c.event_type, t.tb, t.tc,
             ABS((CASE WHEN t.tb > 0 THEN
                    CAST(SUM(c.nb) OVER (PARTITION BY c.event_type
                      ORDER BY c.cents ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) / t.tb ELSE 0.0 END)
                - (CASE WHEN t.tc > 0 THEN
                    CAST(SUM(c.nc) OVER (PARTITION BY c.event_type
                      ORDER BY c.cents ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) / t.tc ELSE 0.0 END))
               AS dd
      FROM c JOIN t USING (event_type))
SELECT event_type, CAST(tb AS BIGINT) AS n_baseline,
       CAST(tc AS BIGINT) AS n_current,
       CAST(FLOOR(MAX(dd) * 1000000 + 0.5) AS BIGINT) AS d_stat_micro
FROM d GROUP BY 1, 2, 3
"""


# Interpolated trigram KN (Chen & Goodman): identical count tables
# and float expression order as operators/text.py::kn_trigram_surprisal
ORACLES["kn_trigram_surprisal"] = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
tri AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS s(i)),
tc AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(c3) AS c12, COUNT(*) AS n1f12 FROM tc GROUP BY 1, 2),
ct AS (SELECT w2, w3, COUNT(*) AS n23 FROM tc GROUP BY 1, 2),
mid AS (SELECT w2, COUNT(*) AS nmid, COUNT(DISTINCT w3) AS nfol
        FROM tc GROUP BY 1),
uni AS (SELECT w3, COUNT(*) AS nc3 FROM ct GROUP BY 1),
tt AS (SELECT COUNT(*) AS t FROM ct),
p AS (SELECT tc.w1, tc.w2, tc.w3,
             (GREATEST(tc.c3 - {text.KN_DISCOUNT}, 0.0)
              + {text.KN_DISCOUNT} * c12.n1f12 *
                ((GREATEST(ct.n23 - {text.KN_DISCOUNT}, 0.0)
                  + {text.KN_DISCOUNT} * mid.nfol * (uni.nc3 / tt.t))
                 / mid.nmid)) / c12.c12 AS pkn
      FROM tc JOIN c12 USING (w1, w2) JOIN ct USING (w2, w3)
      JOIN mid USING (w2) JOIN uni USING (w3) CROSS JOIN tt)
SELECT tri.doc_id, COUNT(*) AS n_trigrams,
       CAST(SUM(CAST(FLOOR((-log2(p.pkn)) * 1000000 + 0.5) AS BIGINT))
            // COUNT(*) AS BIGINT) AS avg_kn3_surprisal_micro
FROM tri JOIN p ON tri.w1 = p.w1 AND tri.w2 = p.w2 AND tri.w3 = p.w3
GROUP BY 1
"""

ORACLES["kn_bigram_surprisal"] = f"""
WITH toks AS (SELECT doc_id, {_WORDS} AS w FROM documents),
bi AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
       FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS s(i)),
bc AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c) AS c1, COUNT(*) AS n1f FROM bc GROUP BY 1),
nb AS (SELECT w2, COUNT(*) AS n1b FROM bc GROUP BY 1),
t AS (SELECT COUNT(*) AS t FROM bc),
p AS (SELECT bc.w1, bc.w2,
             (GREATEST(bc.c - {text.KN_DISCOUNT}, 0.0)
              + {text.KN_DISCOUNT} * c1.n1f * nb.n1b / t.t) / c1.c1 AS pkn
      FROM bc JOIN c1 USING (w1) JOIN nb USING (w2) CROSS JOIN t)
SELECT bi.doc_id, COUNT(*) AS n_bigrams,
       CAST(FLOOR(AVG(-log2(p.pkn)) * 1000000 + 0.5) AS BIGINT)
         AS avg_kn_surprisal_micro
FROM bi JOIN p ON bi.w1 = p.w1 AND bi.w2 = p.w2
GROUP BY 1
"""

ORACLES["salted_segment_revenue"] = """
SELECT c.c_mktsegment,
       CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_value_cents,
       COUNT(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


_PROFILE_COLS = ["event_id", "user_id", "event_type", "value"]
ORACLES["events_profile"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nulls,
       {sql_micro(f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
                  " AS DOUBLE) / COUNT(*)")} AS null_frac_micro,
       COUNT(DISTINCT {c}) AS n_distinct
FROM events"""
    for c in _PROFILE_COLS
)


def _sql_source_overlap_minhash() -> str:
    """The oracle, generated from the SAME ``dedup.NUM_HASHES`` the
    operator reads (ADVICE r05: the previous hand-unrolled
    16-slot literal would silently desynchronize if NUM_HASHES
    moved), mirroring the kmeans/mmr generated-oracle pattern."""
    slots = ",\n    ".join(
        f"MIN((h1 + {i} * h2) % {dedup.MINHASH_PRIME}) AS mh{i}"
        for i in range(dedup.NUM_HASHES)
    )
    eq = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(dedup.NUM_HASHES)
    )
    jac = sql_micro(f"CAST(n_eq AS DOUBLE) / {dedup.NUM_HASHES}.0")
    return f"""
WITH sh AS (SELECT source, unnest({_SHINGLES}) AS s FROM documents),
h AS (SELECT source, {sql_hash32('s', salt='mh', half=0)} AS h1,
             {sql_hash32('s', salt='mh', half=1)} AS h2
      FROM sh),
sig AS (SELECT source,
    {slots}
  FROM h GROUP BY source),
eq AS (SELECT a.source AS source_a, b.source AS source_b,
    {eq} AS n_eq
  FROM sig a JOIN sig b ON a.source < b.source)
SELECT source_a, source_b, CAST(n_eq AS INT) AS n_equal_slots,
       {jac} AS est_jaccard_micro
FROM eq
"""


ORACLES["source_overlap_minhash"] = _sql_source_overlap_minhash()


ORACLES["daily_changepoint"] = """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                      ROUND(SUM(value), 2) AS day_value
               FROM events GROUP BY 1, 2),
cur AS (SELECT event_type, d,
               SUM(day_value) OVER (PARTITION BY event_type ORDER BY d
                                    ROWS UNBOUNDED PRECEDING) AS s_t,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days,
               SUM(day_value) OVER (PARTITION BY event_type) AS s_n
        FROM daily),
scored AS (SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                  d AS change_day,
                  ROUND(ABS(s_t - CAST(t AS DOUBLE) / n_days * s_n), 6) + 0.0
                    AS shift_stat,
                  ROUND(s_t / t, 6) + 0.0 AS mean_before,
                  ROUND((s_n - s_t) / (n_days - t), 6) + 0.0 AS mean_after
           FROM cur WHERE t < n_days),
pick AS (SELECT *,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY shift_stat DESC,
                                            change_day ASC) AS rk
         FROM scored)
SELECT event_type, n_days, change_day, shift_stat, mean_before, mean_after
FROM pick WHERE rk = 1
"""

ORACLES["daily_distinct_users_hll"] = _sketch.sql_daily_distinct_users_hll()
ORACLES["weekly_distinct_users_hll"] = _sketch.sql_weekly_distinct_users_hll()

# plain join — the bloom prefilter is lossless, so the oracle IS the
# unfiltered join (that equality is the property being certified)
ORACLES["bloom_filtered_join"] = """
SELECT o.o_orderkey, o.o_custkey, c.c_name,
       ROUND(o.o_totalprice, 2) AS o_totalprice
FROM orders o
JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c
  ON c.c_custkey = o.o_custkey
"""
ORACLES["zipf_fit"] = text.sql_zipf_fit()

ORACLES["ab_test_report"] = """
WITH pu AS (SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS converted
            FROM events GROUP BY 1),
pv AS (SELECT CAST(user_id % 2 AS INT) AS variant,
              COUNT(*) AS n_users, SUM(converted) AS n_converted
       FROM pu GROUP BY 1),
a AS (SELECT n_users AS n_a, n_converted AS c_a FROM pv WHERE variant = 0),
b AS (SELECT n_users AS n_b, n_converted AS c_b FROM pv WHERE variant = 1),
j AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
             CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
             CAST(c_a AS DOUBLE) / n_a AS ra,
             CAST(c_b AS DOUBLE) / n_b AS rb,
             CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pooled
      FROM a, b),
z AS (SELECT *,
             CASE WHEN pooled * (1 - pooled) * (1.0/n_a + 1.0/n_b) > 0
                  THEN (ra - rb) / sqrt(pooled * (1 - pooled)
                                        * (1.0/n_a + 1.0/n_b))
                  ELSE 0.0 END AS zs
      FROM j)
SELECT n_a, c_a, n_b, c_b,
       ROUND(ra, 6) + 0.0 AS rate_a,
       ROUND(rb, 6) + 0.0 AS rate_b,
       ROUND(zs, 6) + 0.0 AS z_score,
       ABS(zs) > 1.959964 AS significant_95
FROM z
"""

ORACLES["conversion_lag_stats"] = temporal.sql_conversion_lag_stats()
ORACLES["sample_k_per_group"] = sampling.sql_sample_k_per_group()

ORACLES["k_anonymity_violations"] = f"""
SELECT lang, source, COUNT(*) AS n
FROM documents GROUP BY 1, 2 HAVING COUNT(*) < {text.KANON_K}
"""

ORACLES["k_anonymity_report"] = f"""
WITH g AS (SELECT lang, source, COUNT(*) AS n
           FROM documents GROUP BY 1, 2),
a AS (SELECT COUNT(*) AS n_groups,
             COALESCE(SUM(CASE WHEN n < {text.KANON_K} THEN 1 ELSE 0 END), 0) AS n_violating_groups,
             COALESCE(SUM(CASE WHEN n < {text.KANON_K} THEN n ELSE 0 END), 0) AS n_rows_at_risk,
             COALESCE(SUM(n), 0) AS total
      FROM g)
SELECT {text.KANON_K} AS k, CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_violating_groups AS BIGINT) AS n_violating_groups,
       CAST(n_rows_at_risk AS BIGINT) AS n_rows_at_risk,
       CASE WHEN total > 0
            THEN ROUND(CAST(n_rows_at_risk AS DOUBLE) / total, 6) + 0.0
            ELSE 0.0 END AS frac_rows_at_risk
FROM a
"""

ORACLES["copurchase_graph_stats"] = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       FROM op a JOIN op b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
deg AS (SELECT p, COUNT(*) AS d
        FROM (SELECT pa AS p FROM pr UNION ALL SELECT pb FROM pr)
        GROUP BY 1),
e AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND pr.pa < pr.pb)
                  THEN pr.pa ELSE pr.pb END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND pr.pa < pr.pb)
                  THEN pr.pb ELSE pr.pa END AS dst
      FROM pr JOIN deg da ON da.p = pr.pa JOIN deg db ON db.p = pr.pb),
tri AS (SELECT COUNT(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.src = e1.dst
        WHERE EXISTS (SELECT 1 FROM e e3
                      WHERE e3.src = e1.src AND e3.dst = e2.dst)),
w AS (SELECT COALESCE(SUM(d * (d - 1) // 2), 0) AS n_wedges FROM deg),
np AS (SELECT COUNT(*) AS n_parts FROM deg),
ne AS (SELECT COUNT(*) AS n_edges FROM pr)
SELECT CAST(np.n_parts AS BIGINT) AS n_parts,
       CAST(ne.n_edges AS BIGINT) AS n_edges,
       CAST(w.n_wedges AS BIGINT) AS n_wedges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN w.n_wedges > 0
            THEN ROUND(3.0 * tri.n_triangles / w.n_wedges, 6) + 0.0
            ELSE 0.0 END AS global_clustering
FROM np, ne, w, tri
"""

ORACLES["hll_registers"] = _sketch.sql_hll_registers()
ORACLES["hll_distinct_users"] = _sketch.sql_hll_distinct_users()

ORACLES["linear_attribution"] = """
WITH t AS (SELECT user_id, ts AS t_ts, event_type AS channel
           FROM events WHERE event_type IN ('click', 'view')),
p AS (SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'),
j AS (SELECT p.p_id, p.p_value, t.channel, t.t_ts
      FROM p LEFT JOIN t
        ON t.user_id = p.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR),
per AS (SELECT p_id, p_value, channel, COUNT(t_ts) AS nc
        FROM j GROUP BY 1, 2, 3),
tot AS (SELECT p_id, SUM(nc) AS nt FROM per GROUP BY 1),
sel AS (SELECT COALESCE(per.channel, 'direct') AS channel, per.nc,
               CAST(ROUND((CASE WHEN tot.nt = 0 THEN per.p_value
                    ELSE per.p_value * per.nc / tot.nt END) * 1000000)
                    AS BIGINT) AS attr_u
        FROM per JOIN tot ON tot.p_id = per.p_id)
SELECT channel, CAST(SUM(nc) AS BIGINT) AS n_touches,
       ROUND(SUM(attr_u) / 1000000.0, 2) + 0.0 AS attributed_value
FROM sel GROUP BY channel
"""

ORACLES["value_psi_by_type"] = """
WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
           FROM events),
ev AS (SELECT event_type,
              CASE WHEN CAST(ts AS DATE) < dmin + CAST((dmax - dmin) // 2 AS INT)
                   THEN 1 ELSE 0 END AS is_base,
              CAST(LEAST(9, GREATEST(0, FLOOR(value / 10.0))) AS INT) AS bucket
       FROM events, b),
counts AS (SELECT event_type, bucket, SUM(is_base) AS nb,
                  COUNT(*) - SUM(is_base) AS nc
           FROM ev GROUP BY 1, 2),
grid AS (SELECT event_type, CAST(g AS INT) AS bucket
         FROM (SELECT DISTINCT event_type FROM events),
              UNNEST(generate_series(0, 9)) AS t(g)),
filled AS (SELECT g.event_type, g.bucket,
                  COALESCE(c.nb, 0) AS nb, COALESCE(c.nc, 0) AS nc
           FROM grid g LEFT JOIN counts c
             ON c.event_type = g.event_type AND c.bucket = g.bucket),
tot AS (SELECT event_type, SUM(nb) AS tb, SUM(nc) AS tc
        FROM filled GROUP BY 1),
terms AS (SELECT f.event_type, t.tb, t.tc,
                 (((CASE WHEN t.tc > 0 THEN CAST(f.nc AS DOUBLE) / t.tc
                         ELSE 0.0 END + 0.001) / 1.01)
                  - ((CASE WHEN t.tb > 0 THEN CAST(f.nb AS DOUBLE) / t.tb
                          ELSE 0.0 END + 0.001) / 1.01)) *
                 ln(((CASE WHEN t.tc > 0 THEN CAST(f.nc AS DOUBLE) / t.tc
                           ELSE 0.0 END + 0.001) / 1.01) /
                    ((CASE WHEN t.tb > 0 THEN CAST(f.nb AS DOUBLE) / t.tb
                           ELSE 0.0 END + 0.001) / 1.01)) AS term
          FROM filled f JOIN tot t ON t.event_type = f.event_type)
SELECT event_type, CAST(MAX(tb) AS BIGINT) AS n_baseline,
       CAST(MAX(tc) AS BIGINT) AS n_current,
       ROUND(SUM(term), 6) + 0.0 AS psi
FROM terms GROUP BY event_type
"""

ORACLES["pmi_collocations"] = text.sql_pmi_collocations()
ORACLES["bloom_bits"] = _sketch.sql_bloom_bits()
ORACLES["bloom_admission"] = _sketch.sql_bloom_admission()

# curation_scores (r08 integer migration): quality and norm stay RAW
# doubles through the join and each FINAL column micro-quantizes
# once — never micro(ROUND(x)), which would re-inherit ROUND's
# cross-engine tie hazard. The logistic composes the shared
# sql_quality_raw fragment (r08 ADVICE #3): one place for the
# coefficients on the SQL side, mirroring _quality_raw_column.
ORACLES["curation_scores"] = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_WORDS}, w -> w IN ({_EN_SW}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
q AS (SELECT doc_id, {text.sql_quality_raw()} AS quality
      FROM m),
n AS (SELECT vec_id AS doc_id,
             {sql_l2_norm('embedding', similarity.EMB_DIM)} AS l2_norm
      FROM embeddings)
SELECT q.doc_id,
       CAST(FLOOR(q.quality * 1000000 + 0.5) AS BIGINT) AS quality_micro,
       CAST(FLOOR(n.l2_norm * 1000000 + 0.5) AS BIGINT) AS l2_norm_micro,
       CAST(FLOOR(q.quality * n.l2_norm * 1000000 + 0.5) AS BIGINT)
         AS curation_score_micro
FROM q JOIN n ON q.doc_id = n.doc_id
"""

# epoch_mixture: per-doc quality quantizes to micro BEFORE the source
# mean (integer division — no float-summation drift), embedding the
# integer quality_scores oracle; the epoch water-fill mirrors
# operators/sampling.py::epoch_mixture line for line.
from .operators.sampling import (  # noqa: E402
    EPOCH_BUDGET_MULT as _EP_MULT,
    EPOCH_CAP_HI as _EP_HI,
    EPOCH_CAP_LO as _EP_LO,
)

ORACLES["epoch_mixture"] = f"""
WITH q AS (SELECT doc_id, quality_micro FROM ({ORACLES['quality_scores']})),
d AS (SELECT dd.source,
             CAST(len(regexp_extract_all(dd.text, '\\S+')) AS BIGINT) AS nt,
             q.quality_micro AS qm
      FROM documents dd JOIN q ON q.doc_id = dd.doc_id),
ps AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens,
              CAST(SUM(qm) // COUNT(*) AS BIGINT) AS mean_quality_micro
       FROM d GROUP BY 1),
tiers AS (SELECT source, n_tokens, mean_quality_micro,
                 CASE WHEN ROW_NUMBER() OVER (ORDER BY mean_quality_micro DESC,
                                              source ASC)
                           <= CAST(CEIL(COUNT(*) OVER () / 2.0) AS BIGINT)
                      THEN {_EP_HI} ELSE {_EP_LO} END AS cap_epochs
          FROM ps),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cap_epochs ASC, source ASC) AS r,
              SUM(n_tokens * cap_epochs) OVER (ORDER BY cap_epochs ASC, source ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sat_cum,
              SUM(n_tokens) OVER (ORDER BY cap_epochs ASC, source ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tok_cum
       FROM tiers),
tot AS (SELECT MAX(r) AS k, SUM(n_tokens) AS total,
               CAST(FLOOR(SUM(n_tokens) * {_EP_MULT}) AS BIGINT) AS b
        FROM rk),
sel AS (SELECT COALESCE(MAX(CASE WHEN sat_cum + cap_epochs * (total - tok_cum)
                                      <= b THEN r END), 0) AS i_star,
               COALESCE(MAX(CASE WHEN sat_cum + cap_epochs * (total - tok_cum)
                                      <= b THEN sat_cum END), 0) AS sat_star,
               COALESCE(MAX(CASE WHEN sat_cum + cap_epochs * (total - tok_cum)
                                      <= b THEN tok_cum END), 0) AS tok_star
        FROM rk, tot),
lev AS (SELECT rk.*, sel.i_star,
               CASE WHEN rk.r <= sel.i_star THEN rk.cap_epochs * 1000000
                    ELSE CAST(FLOOR(CAST(tot.b - sel.sat_star AS DOUBLE)
                                    / CAST(tot.total - sel.tok_star AS DOUBLE)
                                    * 1000000 + 0.5) AS BIGINT) END AS em
        FROM rk, tot, sel)
SELECT source, n_tokens, mean_quality_micro,
       CAST(cap_epochs AS BIGINT) AS cap_epochs,
       CAST(em AS BIGINT) AS epochs_micro,
       CAST(CASE WHEN r <= i_star THEN n_tokens * cap_epochs
                 ELSE n_tokens * em // 1000000 END AS BIGINT)
         AS allocated_tokens,
       r <= i_star AS saturated
FROM lev
"""

from .operators.clustering import kmeans_oracle_sql as _kmeans_oracle_sql
from .operators.clustering import (  # noqa: E402
    cluster_silhouette_oracle_sql as _silhouette_oracle_sql,
)

# epoch_shuffle: the oracle is the straightforward global ORDER BY of
# the identical salted portable hash — DuckDB can afford the global
# sort the Spark side decomposes into hash-prefix buckets.
ORACLES["epoch_shuffle"] = f"""
WITH t AS (SELECT doc_id,
                  {sql_hash32("CAST(doc_id AS VARCHAR)", salt="ep0")} AS h
           FROM documents),
r AS (SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
      FROM t)
SELECT doc_id, pos, CAST(pos % {packing.N_SHARDS} AS INT) AS shard FROM r
"""

ORACLES["cluster_silhouette"] = _silhouette_oracle_sql()

from .operators.clustering import (  # noqa: E402
    silhouette_by_k_oracle_sql as _silhouette_by_k_oracle_sql,
)

ORACLES["silhouette_by_k"] = _silhouette_by_k_oracle_sql()

_SPEC_DEFS: dict[str, QuerySpec] = {
    # parity (reference surface, SURVEY.md §2)
    "raw_transactions": QuerySpec(_q_raw_transactions, ORACLES["raw_transactions"]),
    "sales_per_day": QuerySpec(_q_sales_per_day, ORACLES["sales_per_day"], bench=True),
    "sales_per_category": QuerySpec(
        _q_sales_per_category, ORACLES["sales_per_category"], bench=True
    ),
    "sales_per_month": QuerySpec(_q_sales_per_month, ORACLES["sales_per_month"]),
    "sales_per_day_purchases": QuerySpec(
        _q_sales_per_day_purchases, ORACLES["sales_per_day_purchases"]
    ),
    "category_stats": QuerySpec(_q_category_stats, ORACLES["category_stats"]),
    "props_extract": QuerySpec(_q_props_extract, ORACLES["props_extract"]),
    # star-schema joins
    "q1_pricing_summary": QuerySpec(_q_q1, ORACLES["q1_pricing_summary"], bench=True),
    "q3_shipping_priority": QuerySpec(_q_q3, ORACLES["q3_shipping_priority"], bench=True),
    "q5_regional_revenue": QuerySpec(_q_q5, ORACLES["q5_regional_revenue"], bench=True),
    "customer_order_totals": QuerySpec(
        _q_customer_order_totals, ORACLES["customer_order_totals"]
    ),
    "top10_orders": QuerySpec(_q_top10_orders, ORACLES["top10_orders"]),
    "customers_without_orders": QuerySpec(
        _q_customers_without_orders, ORACLES["customers_without_orders"]
    ),
    "orders_with_big_lineitem": QuerySpec(
        _q_orders_with_big_lineitem, ORACLES["orders_with_big_lineitem"]
    ),
    "parts_by_brand_type": QuerySpec(
        _q_parts_by_brand_type, ORACLES["parts_by_brand_type"]
    ),
    "q2_min_cost_supplier": QuerySpec(_q_q2, ORACLES["q2_min_cost_supplier"]),
    "q4_order_priority": QuerySpec(_q_q4, ORACLES["q4_order_priority"]),
    "q6_revenue_forecast": QuerySpec(_q_q6, ORACLES["q6_revenue_forecast"]),
    "q7_volume_shipping": QuerySpec(_q_q7, ORACLES["q7_volume_shipping"]),
    "q9_product_profit": QuerySpec(_q_q9, ORACLES["q9_product_profit"], bench=True),
    "q10_returned_items": QuerySpec(_q_q10, ORACLES["q10_returned_items"]),
    "q13_order_distribution": QuerySpec(_q_q13, ORACLES["q13_order_distribution"]),
    "q14_promo_revenue": QuerySpec(_q_q14, ORACLES["q14_promo_revenue"]),
    "q17_small_quantity_revenue": QuerySpec(
        _q_q17, ORACLES["q17_small_quantity_revenue"]
    ),
    "q18_large_volume_customers": QuerySpec(
        _q_q18, ORACLES["q18_large_volume_customers"], bench=True
    ),
    "q19_disjunctive_revenue": QuerySpec(_q_q19, ORACLES["q19_disjunctive_revenue"]),
    "q22_sales_opportunity": QuerySpec(_q_q22, ORACLES["q22_sales_opportunity"]),
    "q8_market_share": QuerySpec(_q_q8, ORACLES["q8_market_share"]),
    "q11_important_parts": QuerySpec(_q_q11, ORACLES["q11_important_parts"]),
    "q12_priority_shipping": QuerySpec(_q_q12, ORACLES["q12_priority_shipping"]),
    "q15_top_supplier": QuerySpec(_q_q15, ORACLES["q15_top_supplier"]),
    "q16_part_supplier_counts": QuerySpec(_q_q16, ORACLES["q16_part_supplier_counts"]),
    "q20_promotion_suppliers": QuerySpec(_q_q20, ORACLES["q20_promotion_suppliers"]),
    "q21_waiting_suppliers": QuerySpec(_q_q21, ORACLES["q21_waiting_suppliers"]),
    "events_by_customer_segment": QuerySpec(
        _q_events_by_customer_segment, ORACLES["events_by_customer_segment"]
    ),
    "revenue_by_brand": QuerySpec(_q_revenue_by_brand, ORACLES["revenue_by_brand"]),
    # analytics
    "top_users_per_event_type": QuerySpec(
        _q_top_users, ORACLES["top_users_per_event_type"], bench=True
    ),
    "daily_running_revenue": QuerySpec(
        _q_running_revenue, ORACLES["daily_running_revenue"]
    ),
    "user_sessions": QuerySpec(_q_user_sessions, ORACLES["user_sessions"]),
    "sales_rollup": QuerySpec(_q_sales_rollup, ORACLES["sales_rollup"]),
    "session_window_stats": QuerySpec(
        _q_session_window_stats, ORACLES["session_window_stats"]
    ),
    "weekly_moving_avg": QuerySpec(
        _q_weekly_moving_avg, ORACLES["weekly_moving_avg"]
    ),
    "user_value_quartiles": QuerySpec(
        _q_user_value_quartiles, ORACLES["user_value_quartiles"]
    ),
    "conversion_funnel": QuerySpec(
        _q_conversion_funnel, ORACLES["conversion_funnel"]
    ),
    "weekly_retention": QuerySpec(
        _q_weekly_retention, ORACLES["weekly_retention"]
    ),
    "retention_rates": QuerySpec(
        _q_retention_rates, ORACLES["retention_rates"]
    ),
    "event_type_cube": QuerySpec(_q_event_type_cube, ORACLES["event_type_cube"]),
    "distinct_users_per_day": QuerySpec(
        _q_distinct_users_per_day, ORACLES["distinct_users_per_day"]
    ),
    "value_stats_per_type": QuerySpec(
        _q_value_stats, ORACLES["value_stats_per_type"]
    ),
    "event_value_pivot": QuerySpec(_q_event_value_pivot, ORACLES["event_value_pivot"]),
    "purchasers_also_errored": QuerySpec(
        _q_purchasers_also_errored, ORACLES["purchasers_also_errored"]
    ),
    "viewers_never_purchased": QuerySpec(
        _q_viewers_never_purchased, ORACLES["viewers_never_purchased"]
    ),
    # temporal / ordered
    "asof_next_purchase": QuerySpec(
        _q_asof_next_purchase, ORACLES["asof_next_purchase"]
    ),
    "asof_last_click": QuerySpec(
        _q_asof_last_click, ORACLES["asof_last_click"], bench=True
    ),
    "lineitem_price_bands": QuerySpec(
        _q_price_bands, ORACLES["lineitem_price_bands"]
    ),
    "interval_join_click_purchase": QuerySpec(
        _q_interval_join, ORACLES["interval_join_click_purchase"]
    ),
    "hourly_event_counts": QuerySpec(
        _q_hourly_counts, ORACLES["hourly_event_counts"]
    ),
    "day_over_day_delta": QuerySpec(_q_dod_delta, ORACLES["day_over_day_delta"]),
    "latest_event_per_user": QuerySpec(
        _q_latest_event, ORACLES["latest_event_per_user"]
    ),
    "value_percentiles": QuerySpec(_q_percentiles, ORACLES["value_percentiles"]),
    "event_metrics_long": QuerySpec(_q_metrics_long, ORACLES["event_metrics_long"]),
    "customers_above_avg_balance": QuerySpec(
        _q_above_avg_balance, ORACLES["customers_above_avg_balance"]
    ),
    # dedup
    "dedup_exact": QuerySpec(_q_dedup_exact, ORACLES["dedup_exact"]),
    "incremental_dedup": QuerySpec(
        _q_incremental_dedup, ORACLES["incremental_dedup"]
    ),
    "incremental_fuzzy_dedup": QuerySpec(
        _q_incremental_fuzzy_dedup, ORACLES["incremental_fuzzy_dedup"]
    ),
    "corpus_diff": QuerySpec(_q_corpus_diff, ORACLES["corpus_diff"]),
    "repeated_substring_spans": QuerySpec(
        _q_repeated_substring_spans, ORACLES["repeated_substring_spans"]
    ),
    "shingle_novelty": QuerySpec(
        _q_shingle_novelty, ORACLES["shingle_novelty"]
    ),
    "containment_pairs": QuerySpec(
        _q_containment_pairs, ORACLES["containment_pairs"]
    ),
    "dedup_exact_normalized": QuerySpec(
        _q_dedup_exact_normalized, ORACLES["dedup_exact_normalized"]
    ),
    "minhash_signatures": QuerySpec(
        _q_minhash_signatures, ORACLES["minhash_signatures"], bench=True
    ),
    "lsh_candidate_pairs": QuerySpec(
        _q_lsh_candidate_pairs, ORACLES["lsh_candidate_pairs"], bench=True
    ),
    "ngram_jaccard_pairs": QuerySpec(
        _q_ngram_jaccard_pairs, ORACLES["ngram_jaccard_pairs"]
    ),
    "prefix_jaccard_pairs": QuerySpec(
        _q_prefix_jaccard_pairs, ORACLES["prefix_jaccard_pairs"], bench=True
    ),
    "bm25_topk": QuerySpec(_q_bm25_topk, ORACLES["bm25_topk"], bench=True),
    "phrase_search": QuerySpec(_q_phrase_search, ORACLES["phrase_search"]),
    "hybrid_search_rrf": QuerySpec(
        _q_hybrid_search_rrf, ORACLES["hybrid_search_rrf"], bench=True
    ),
    "supplier_pagerank": QuerySpec(
        _q_supplier_pagerank, ORACLES["supplier_pagerank"]
    ),
    "lsh_recall_sampled": QuerySpec(
        _q_lsh_recall_sampled, ORACLES["lsh_recall_sampled"]
    ),
    "fuzzy_decontaminate": QuerySpec(
        _q_fuzzy_decontaminate, ORACLES["fuzzy_decontaminate"]
    ),
    "code_switch_report": QuerySpec(
        _q_code_switch_report, ORACLES["code_switch_report"]
    ),
    "lsh_candidate_precision": QuerySpec(
        _q_lsh_candidate_precision, ORACLES["lsh_candidate_precision"]
    ),
    "dp_source_counts": QuerySpec(
        _q_dp_source_counts, ORACLES["dp_source_counts"]
    ),
    "markov_attribution": QuerySpec(
        _q_markov_attribution, ORACLES["markov_attribution"]
    ),
    "retrieval_eval": QuerySpec(
        _q_retrieval_eval, ORACLES["retrieval_eval"]
    ),
    "retrieval_ndcg": QuerySpec(
        _q_retrieval_ndcg, ORACLES["retrieval_ndcg"]
    ),
    "dup_quality_report": QuerySpec(
        _q_dup_quality_report, ORACLES["dup_quality_report"]
    ),
    "journey_length_hist": QuerySpec(
        _q_journey_length_hist, ORACLES["journey_length_hist"]
    ),
    "basket_size_hist": QuerySpec(
        _q_basket_size_hist, ORACLES["basket_size_hist"]
    ),
    "winnowing_fingerprints": QuerySpec(
        _q_winnowing_fingerprints, ORACLES["winnowing_fingerprints"]
    ),
    "winnowing_overlap_pairs": QuerySpec(
        _q_winnowing_overlap_pairs, ORACLES["winnowing_overlap_pairs"]
    ),
    "classifier_calibration": QuerySpec(
        _q_classifier_calibration, ORACLES["classifier_calibration"]
    ),
    "item_neighbors_topk": QuerySpec(
        _q_item_neighbors_topk, ORACLES["item_neighbors_topk"]
    ),
    "containment_sketch_pairs": QuerySpec(
        _q_containment_sketch_pairs, ORACLES["containment_sketch_pairs"]
    ),
    "media_ahash": QuerySpec(_q_media_ahash, ORACLES["media_ahash"]),
    "media_ahash_pairs": QuerySpec(
        _q_media_ahash_pairs, ORACLES["media_ahash_pairs"]
    ),
    "lsh_recall_report": QuerySpec(
        _q_lsh_recall_report, ORACLES["lsh_recall_report"]
    ),
    "corpus_growth": QuerySpec(_q_corpus_growth, ORACLES["corpus_growth"]),
    "cross_corpus_surprisal": QuerySpec(
        _q_cross_corpus_surprisal, ORACLES["cross_corpus_surprisal"]
    ),
    "media_dedup": QuerySpec(_q_media_dedup, ORACLES["media_dedup"]),
    "value_percentiles_hist": QuerySpec(
        _q_value_percentiles_hist, ORACLES["value_percentiles_hist"]
    ),
    "event_user_skew_topk": QuerySpec(
        _q_event_user_skew_topk, ORACLES["event_user_skew_topk"]
    ),
    "event_user_skew_summary": QuerySpec(
        _q_event_user_skew_summary, ORACLES["event_user_skew_summary"]
    ),
    "simhash": QuerySpec(_q_simhash, ORACLES["simhash"]),
    # bench: the iterative component loop is where wall-time surprises
    # live at scale — measure it every round, not just its LSH input
    "dedup_clusters": QuerySpec(
        _q_dedup_clusters, ORACLES["dedup_clusters"], bench=True
    ),
    "documents_deduped_best": QuerySpec(
        _q_documents_deduped_best, ORACLES["documents_deduped_best"]
    ),
    "documents_deduped": QuerySpec(
        _q_documents_deduped, ORACLES["documents_deduped"]
    ),
    "sample_events": QuerySpec(_q_sample_events, ORACLES["sample_events"]),
    "dataset_splits": QuerySpec(_q_dataset_splits, ORACLES["dataset_splits"]),
    "split_summary": QuerySpec(_q_split_summary, ORACLES["split_summary"]),
    "stratified_sample": QuerySpec(
        _q_stratified_sample, ORACLES["stratified_sample"]
    ),
    "mixture_sample": QuerySpec(_q_mixture_sample, ORACLES["mixture_sample"]),
    "temperature_mixture": QuerySpec(
        _q_temperature_mixture, ORACLES["temperature_mixture"]
    ),
    "temperature_mixture_summary": QuerySpec(
        _q_temperature_mixture_summary, ORACLES["temperature_mixture_summary"]
    ),
    "weighted_sample": QuerySpec(_q_weighted_sample, ORACLES["weighted_sample"]),
    "weighted_sample_by_source": QuerySpec(
        _q_weighted_sample_by_source, ORACLES["weighted_sample_by_source"]
    ),
    "countmin_sketch": QuerySpec(
        _q_countmin_sketch, ORACLES["countmin_sketch"], bench=True
    ),
    "countmin_estimates": QuerySpec(
        _q_countmin_estimates, ORACLES["countmin_estimates"]
    ),
    "nb_lang_scores": QuerySpec(
        _q_nb_lang_scores, ORACLES["nb_lang_scores"], bench=True
    ),
    "daily_gapfill": QuerySpec(_q_daily_gapfill, ORACLES["daily_gapfill"]),
    "first_conversion_episode": QuerySpec(
        _q_first_conversion_episode,
        ORACLES["first_conversion_episode"],
        bench=True,
    ),
    "jl_project": QuerySpec(_q_jl_project, ORACLES["jl_project"]),
    "pq_codes": QuerySpec(_q_pq_codes, ORACLES["pq_codes"]),
    "pq_ann_rerank": QuerySpec(_q_pq_ann_rerank, ORACLES["pq_ann_rerank"]),
    "ivf_pq_topk": QuerySpec(_q_ivf_pq_topk, ORACLES["ivf_pq_topk"]),
    "pq_ann_topk": QuerySpec(
        _q_pq_ann_topk, ORACLES["pq_ann_topk"], bench=True
    ),
    "entity_merge_groups": QuerySpec(
        _q_entity_merge_groups, ORACLES["entity_merge_groups"]
    ),
    "fuzzy_name_pairs": QuerySpec(_q_fuzzy_name_pairs, ORACLES["fuzzy_name_pairs"]),
    "block_profile": QuerySpec(_q_block_profile, ORACLES["block_profile"]),
    "simhash_near_pairs": QuerySpec(
        _q_simhash_near_pairs, ORACLES["simhash_near_pairs"]
    ),
    # text analysis
    "token_counts": QuerySpec(_q_token_counts, ORACLES["token_counts"]),
    "lang_id": QuerySpec(_q_lang_id, ORACLES["lang_id"]),
    "quality_scores": QuerySpec(_q_quality_scores, ORACLES["quality_scores"]),
    "char_entropy": QuerySpec(_q_char_entropy, ORACLES["char_entropy"]),
    "sentence_chunks": QuerySpec(
        _q_sentence_chunks, ORACLES["sentence_chunks"]
    ),
    "repetition_scores": QuerySpec(
        _q_repetition_scores, ORACLES["repetition_scores"]
    ),
    "decontaminate": QuerySpec(_q_decontaminate, ORACLES["decontaminate"]),
    "contamination_report": QuerySpec(
        _q_contamination_report, ORACLES["contamination_report"]
    ),
    "budgeted_mixture": QuerySpec(
        _q_budgeted_mixture, ORACLES["budgeted_mixture"]
    ),
    "source_overlap_matrix": QuerySpec(
        _q_source_overlap_matrix, ORACLES["source_overlap_matrix"]
    ),
    "curated_corpus": QuerySpec(_q_curated_corpus, ORACLES["curated_corpus"]),
    "pii_scrub": QuerySpec(_q_pii_scrub, ORACLES["pii_scrub"]),
    "doc_fingerprints": QuerySpec(_q_doc_fingerprints, ORACLES["doc_fingerprints"]),
    "multimodal_features": QuerySpec(
        _q_multimodal_features, ORACLES["multimodal_features"]
    ),
    "multimodal_frames": QuerySpec(
        _q_multimodal_frames, ORACLES["multimodal_frames"]
    ),
    "multimodal_thumbnails": QuerySpec(
        _q_multimodal_thumbnails, ORACLES["multimodal_thumbnails"]
    ),
    "top_bigrams": QuerySpec(_q_top_bigrams, ORACLES["top_bigrams"]),
    "tfidf_top_terms": QuerySpec(_q_tfidf_top_terms, ORACLES["tfidf_top_terms"]),
    "profile_events": QuerySpec(_q_profile_events, ORACLES["profile_events"]),
    "profile_documents": QuerySpec(
        _q_profile_documents, ORACLES["profile_documents"]
    ),
    "vocabulary": QuerySpec(_q_vocabulary, ORACLES["vocabulary"]),
    "unigram_surprisal": QuerySpec(
        _q_unigram_surprisal, ORACLES["unigram_surprisal"], bench=True
    ),
    "bigram_surprisal": QuerySpec(
        _q_bigram_surprisal, ORACLES["bigram_surprisal"]
    ),
    "sequence_packing": QuerySpec(
        _q_sequence_packing, ORACLES["sequence_packing"], bench=True
    ),
    "packing_efficiency": QuerySpec(
        _q_packing_efficiency, ORACLES["packing_efficiency"]
    ),
    "doc_chunks": QuerySpec(_q_doc_chunks, ORACLES["doc_chunks"]),
    "embedding_quantize_int8": QuerySpec(
        _q_embedding_quantize, ORACLES["embedding_quantize_int8"]
    ),
    "curation_scores": QuerySpec(_q_curation_scores, ORACLES["curation_scores"]),
    "embedding_norms": QuerySpec(_q_embedding_norms, ORACLES["embedding_norms"]),
    # similarity search
    "knn_bruteforce": QuerySpec(
        _q_knn_bruteforce, ORACLES["knn_bruteforce"], bench=True
    ),
    # same semantics through the Arrow/numpy path — same oracle.
    # bench=False: Python-worker spin-up dominates at 5k rows; the
    # GEMM path only wins once batches are ~100k+ vectors.
    "knn_bruteforce_pandas": QuerySpec(_q_knn_pandas, ORACLES["knn_bruteforce"]),
    "knn_int8": QuerySpec(_q_knn_int8, ORACLES["knn_int8"], bench=True),
    "grouping_sets_sales": QuerySpec(
        _q_grouping_sets, ORACLES["grouping_sets_sales"]
    ),
    "pit_enriched_events": QuerySpec(
        _q_pit_enriched_events, ORACLES["pit_enriched_events"]
    ),
    "scd2_user_segments": QuerySpec(
        _q_scd2_user_segments, ORACLES["scd2_user_segments"]
    ),
    "distinct_user_event_pairs": QuerySpec(
        _q_distinct_user_event_pairs, ORACLES["distinct_user_event_pairs"]
    ),
    "ann_lsh_topk": QuerySpec(_q_ann_lsh_topk, ORACLES["ann_lsh_topk"]),
    "ann_lsh_multiprobe": QuerySpec(
        _q_ann_lsh_multiprobe, ORACLES["ann_lsh_multiprobe"]
    ),
    "ann_lsh_topk_planned": QuerySpec(
        _q_ann_lsh_planned, ORACLES["ann_lsh_topk_planned"]
    ),
    "ivf_ann_topk": QuerySpec(_q_ivf_topk, ORACLES["ivf_ann_topk"]),
    "kmeans_cluster_sizes": QuerySpec(_q_kmeans_sizes, _kmeans_oracle_sql()),
    "label_centroids": QuerySpec(_q_label_centroids, ORACLES["label_centroids"]),
    "embedding_drift": QuerySpec(_q_embedding_drift, ORACLES["embedding_drift"]),
    "corpus_diversity": QuerySpec(
        _q_corpus_diversity, ORACLES["corpus_diversity"]
    ),
    "embedding_near_dup_pairs": QuerySpec(
        _q_embedding_near_dup, ORACLES["embedding_near_dup_pairs"]
    ),
    "semantic_dedup": QuerySpec(
        _q_semantic_dedup, ORACLES["semantic_dedup"], bench=True
    ),
    "corpus_funnel": QuerySpec(
        _q_corpus_funnel, ORACLES["corpus_funnel"], bench=True
    ),
    "corpus_funnel_by_source": QuerySpec(
        _q_corpus_funnel_by_source, ORACLES["corpus_funnel_by_source"]
    ),
    "curation_drop_reasons": QuerySpec(
        _q_curation_drop_reasons, ORACLES["curation_drop_reasons"]
    ),
    "quality_thresholds": QuerySpec(
        _q_quality_thresholds, ORACLES["quality_thresholds"]
    ),
    "bpe_merge_candidates": QuerySpec(
        _q_bpe_merge_candidates, ORACLES["bpe_merge_candidates"]
    ),
    "event_transitions": QuerySpec(
        _q_event_transitions, ORACLES["event_transitions"]
    ),
    "top_session_paths": QuerySpec(
        _q_top_session_paths, ORACLES["top_session_paths"]
    ),
    "rolling_active_users": QuerySpec(
        _q_rolling_active_users, ORACLES["rolling_active_users"]
    ),
    "sliding_event_counts": QuerySpec(
        _q_sliding_event_counts, ORACLES["sliding_event_counts"]
    ),
    "dup_rate_by_source": QuerySpec(
        _q_dup_rate_by_source, ORACLES["dup_rate_by_source"]
    ),
    "copurchase_pairs": QuerySpec(
        _q_copurchase_pairs, ORACLES["copurchase_pairs"], bench=True
    ),
    "rfm_segments": QuerySpec(
        _q_rfm_segments, ORACLES["rfm_segments"], bench=True
    ),
    "decayed_user_value": QuerySpec(
        _q_decayed_user_value, ORACLES["decayed_user_value"]
    ),
    "daily_anomaly_scores": QuerySpec(
        _q_daily_anomaly_scores, ORACLES["daily_anomaly_scores"]
    ),
    "hard_negatives": QuerySpec(_q_hard_negatives, ORACLES["hard_negatives"]),
    "gopher_quality_flags": QuerySpec(
        _q_gopher_quality_flags, ORACLES["gopher_quality_flags"]
    ),
    "balanced_shards": QuerySpec(
        _q_balanced_shards, ORACLES["balanced_shards"]
    ),
    "shard_balance": QuerySpec(_q_shard_balance, ORACLES["shard_balance"]),
    "shard_manifest": QuerySpec(_q_shard_manifest, ORACLES["shard_manifest"]),
    "epoch_shuffle": QuerySpec(
        _q_epoch_shuffle, ORACLES["epoch_shuffle"], bench=True
    ),
    "cluster_silhouette": QuerySpec(
        _q_cluster_silhouette, ORACLES["cluster_silhouette"]
    ),
    "silhouette_by_k": QuerySpec(
        _q_silhouette_by_k, ORACLES["silhouette_by_k"]
    ),
    "documents_substr_deduped": QuerySpec(
        _q_documents_substr_deduped, ORACLES["documents_substr_deduped"]
    ),
    "event_type_correlations": QuerySpec(
        _q_event_type_correlations, ORACLES["event_type_correlations"]
    ),
    "robust_value_stats": QuerySpec(
        _q_robust_value_stats, ORACLES["robust_value_stats"]
    ),
    "seasonal_daily_decompose": QuerySpec(
        _q_seasonal_daily_decompose, ORACLES["seasonal_daily_decompose"]
    ),
    "copurchase_components": QuerySpec(
        _q_copurchase_components, ORACLES["copurchase_components"]
    ),
    "linear_attribution": QuerySpec(
        _q_linear_attribution, ORACLES["linear_attribution"], bench=True
    ),
    "copurchase_graph_stats": QuerySpec(
        _q_copurchase_graph_stats, ORACLES["copurchase_graph_stats"], bench=True
    ),
    "quality_psi_by_source": QuerySpec(
        _q_quality_psi_by_source, ORACLES["quality_psi_by_source"]
    ),
    "t_closeness_report": QuerySpec(
        _q_t_closeness_report, ORACLES["t_closeness_report"]
    ),
    "epoch_mixture": QuerySpec(
        _q_epoch_mixture, ORACLES["epoch_mixture"], bench=True
    ),
    "l_diversity_report": QuerySpec(
        _q_l_diversity_report, ORACLES["l_diversity_report"]
    ),
    "daily_changepoint": QuerySpec(
        _q_daily_changepoint, ORACLES["daily_changepoint"], bench=True
    ),
    "daily_distinct_users_hll": QuerySpec(
        _q_daily_distinct_users_hll, ORACLES["daily_distinct_users_hll"]
    ),
    "weekly_distinct_users_hll": QuerySpec(
        _q_weekly_distinct_users_hll, ORACLES["weekly_distinct_users_hll"]
    ),
    "bloom_filtered_join": QuerySpec(
        _q_bloom_filtered_join, ORACLES["bloom_filtered_join"]
    ),
    "zipf_fit": QuerySpec(_q_zipf_fit, ORACLES["zipf_fit"]),
    "ab_test_report": QuerySpec(
        _q_ab_test_report, ORACLES["ab_test_report"]
    ),
    "conversion_lag_stats": QuerySpec(
        _q_conversion_lag_stats, ORACLES["conversion_lag_stats"]
    ),
    "sample_k_per_group": QuerySpec(
        _q_sample_k_per_group, ORACLES["sample_k_per_group"]
    ),
    "k_anonymity_violations": QuerySpec(
        _q_k_anonymity_violations, ORACLES["k_anonymity_violations"]
    ),
    "k_anonymity_report": QuerySpec(
        _q_k_anonymity_report, ORACLES["k_anonymity_report"]
    ),
    "hll_registers": QuerySpec(_q_hll_registers, ORACLES["hll_registers"]),
    "hll_distinct_users": QuerySpec(
        _q_hll_distinct_users, ORACLES["hll_distinct_users"], bench=True
    ),
    "value_psi_by_type": QuerySpec(
        _q_value_psi_by_type, ORACLES["value_psi_by_type"], bench=True
    ),
    "pmi_collocations": QuerySpec(
        _q_pmi_collocations, ORACLES["pmi_collocations"]
    ),
    "bloom_bits": QuerySpec(_q_bloom_bits, ORACLES["bloom_bits"]),
    "kn_trigram_surprisal": QuerySpec(
        _q_kn_trigram_surprisal, ORACLES["kn_trigram_surprisal"]
    ),
    "kn_bigram_surprisal": QuerySpec(
        _q_kn_bigram_surprisal, ORACLES["kn_bigram_surprisal"]
    , bench=True),
    "salted_segment_revenue": QuerySpec(
        _q_salted_segment_revenue, ORACLES["salted_segment_revenue"]
    ),
    "cohort_ltv": QuerySpec(_q_cohort_ltv, ORACLES["cohort_ltv"]),
    "basket_rules": QuerySpec(_q_basket_rules, ORACLES["basket_rules"]),
    "pareto_revenue_share": QuerySpec(
        _q_pareto_revenue_share, ORACLES["pareto_revenue_share"]
    ),
    "time_of_week_profile": QuerySpec(
        _q_time_of_week_profile, ORACLES["time_of_week_profile"]
    ),
    "user_lifecycle_stages": QuerySpec(
        _q_user_lifecycle_stages, ORACLES["user_lifecycle_stages"]
    ),
    "kmv_value_quantiles_by_type": QuerySpec(
        _q_kmv_quantiles_by_type, ORACLES["kmv_value_quantiles_by_type"]
    ),
    "corpus_datasheet": QuerySpec(
        _q_corpus_datasheet, ORACLES["corpus_datasheet"]
    ),
    "ivf_recall_report": QuerySpec(
        _q_ivf_recall_report, ORACLES["ivf_recall_report"]
    ),
    "join_fanout_topk": QuerySpec(
        _q_join_fanout_topk, ORACLES["join_fanout_topk"]
    ),
    "rfm_migration": QuerySpec(_q_rfm_migration, ORACLES["rfm_migration"]),
    "position_attribution": QuerySpec(
        _q_position_attribution, ORACLES["position_attribution"]
    ),
    "embedding_outliers": QuerySpec(
        _q_embedding_outliers, ORACLES["embedding_outliers"]
    ),
    "kmv_value_quantiles": QuerySpec(
        _q_kmv_value_quantiles, ORACLES["kmv_value_quantiles"]
    , bench=True),
    "conversion_survival": QuerySpec(
        _q_conversion_survival, ORACLES["conversion_survival"]
    , bench=True),
    "quality_matched_sample": QuerySpec(
        _q_quality_matched_sample, ORACLES["quality_matched_sample"]
    , bench=True),
    "events_profile": QuerySpec(
        _q_events_profile, ORACLES["events_profile"]
    ),
    "mmr_select": QuerySpec(
        _q_mmr_select, similarity.mmr_oracle_sql()
    ),
    "source_overlap_minhash": QuerySpec(
        _q_source_overlap_minhash, ORACLES["source_overlap_minhash"]
    , bench=True),
    "bloom_admission": QuerySpec(
        _q_bloom_admission, ORACLES["bloom_admission"], bench=True
    ),
    # r06 additions — registry tail: mini-driver green now, first
    # into the r07 window (COVERAGE.md verification rotation)
    "boilerplate_lines": QuerySpec(
        _q_boilerplate_lines, ORACLES["boilerplate_lines"], bench=True
    ),
    "line_dedup": QuerySpec(
        _q_line_dedup, ORACLES["line_dedup"], bench=True
    ),
    "token_waterfill": QuerySpec(
        _q_token_waterfill, ORACLES["token_waterfill"], bench=True
    ),
    "boilerplate_shingles": QuerySpec(
        _q_boilerplate_shingles, ORACLES["boilerplate_shingles"]
    ),
    "strip_boilerplate": QuerySpec(
        _q_strip_boilerplate, ORACLES["strip_boilerplate"]
    ),
    "quality_ks_by_source": QuerySpec(
        _q_quality_ks_by_source, ORACLES["quality_ks_by_source"], bench=True
    ),
    "value_benford_by_type": QuerySpec(
        _q_value_benford_by_type, ORACLES["value_benford_by_type"]
    ),
    "value_ks_by_type": QuerySpec(
        _q_value_ks_by_type, ORACLES["value_ks_by_type"]
    ),
}

# The external correctness driver verifies the registry IN ITERATION
# ORDER and records at most ~50 entries per round. Rotation invariant
# (COVERAGE.md "Verification rotation"): every registry query must
# hold a green row from SOME round whose implementation is unchanged
# since — so the window each round front-loads (1) queries never yet
# externally verified, (2) every query whose plan changed this round,
# then (3) backfills with stable already-green queries. Queries
# rotated to the tail keep their prior-round certification precisely
# because their code is untouched; touching one moves it back into
# the window.
_VERIFY_FIRST: tuple[str, ...] = (
    # ================= r10 window =================
    # Composition (VERDICT r09 #10 + r09 ADVICE #1 + COVERAGE.md):
    # (A) the round's 4 fingerprint-drifted re-plans:
    #     semantic_dedup (within-cell prefix-bound prefilter +
    #     unrolled exact dot), kn_trigram_surprisal /
    #     kn_bigram_surprisal (one-token-scan checkpoint),
    #     hybrid_search_rrf (lexical shingle scan checkpointed once,
    #     query slice pruned before shingling).
    "semantic_dedup",
    "kn_trigram_surprisal",
    "kn_bigram_surprisal",
    "hybrid_search_rrf",
    # (B) checkpoint-shielded consumers whose EXECUTED internals
    #     changed this round while their analyzed-plan fingerprints
    #     cannot see it (the r09 ADVICE blind spot, now routinely
    #     rotated): the CC/pagerank loops record real partitioning
    #     across localCheckpoints (AQE off at capture) and run lazy
    #     edge/label checkpoints; cands checkpoints went lazy in the
    #     LSH/prefix/fuzzy families (incremental_fuzzy_dedup also
    #     dropped its single-use nb checkpoint); decontaminate and
    #     the funnel family carry the size-gated eval broadcast and
    #     the funnel's one-split-per-row shingle build.
    "supplier_pagerank",
    "dedup_clusters",
    "copurchase_components",
    "entity_merge_groups",
    "lsh_candidate_pairs",
    "lsh_candidate_precision",
    "lsh_recall_report",
    "lsh_recall_sampled",
    "prefix_jaccard_pairs",
    "incremental_fuzzy_dedup",
    "fuzzy_decontaminate",
    "decontaminate",
    "contamination_report",
    "curated_corpus",
    "corpus_funnel",
    "corpus_funnel_by_source",
    "curation_drop_reasons",
    # (C) staleness backfill, oldest certifications first: the r03
    #     holdout (props_extract), the 8 backfills displaced by the
    #     r09 re-plans (phrase_search, media_dedup,
    #     asof_next_purchase, balanced_shards, bpe_merge_candidates,
    #     countmin_estimates, countmin_sketch — entity_merge_groups
    #     is in (B)), and the REST of the r04 cohort including the
    #     whole cosine/ANN ROUND family COVERAGE.md had queued for
    #     r10+. This clears every r04-certified row except
    #     weighted_sample_by_source (first in the r11 queue).
    "props_extract",
    "phrase_search",
    "media_dedup",
    "asof_next_purchase",
    "balanced_shards",
    "bpe_merge_candidates",
    "countmin_estimates",
    "countmin_sketch",
    "pit_enriched_events",
    "pq_codes",
    "repeated_substring_spans",
    "ann_lsh_topk",
    "ann_lsh_topk_planned",
    "bm25_topk",
    "budgeted_mixture",
    "embedding_near_dup_pairs",
    "embedding_quantize_int8",
    "first_conversion_episode",
    "hard_negatives",
    "ivf_ann_topk",
    "ivf_pq_topk",
    "jl_project",
    "knn_bruteforce",
    "knn_bruteforce_pandas",
    "knn_int8",
    "pq_ann_topk",
    "quality_thresholds",
    "shard_balance",
    "weighted_sample",
)

assert set(_VERIFY_FIRST) <= set(_SPEC_DEFS), sorted(
    set(_VERIFY_FIRST) - set(_SPEC_DEFS)
)

SPECS: dict[str, QuerySpec] = {
    **{name: _SPEC_DEFS[name] for name in _VERIFY_FIRST},
    **{k: v for k, v in _SPEC_DEFS.items() if k not in set(_VERIFY_FIRST)},
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in SPECS.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in SPECS.items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in SPECS.items() if spec.bench}
