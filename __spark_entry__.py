"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over flink_ecommerce_spark.registry, which holds every
implemented query from SURVEY.md §2 (parity surface) plus the
extension operators — joins/windows/TPC-H shapes, dedup (exact /
MinHash-LSH / SimHash / incremental exact AND fuzzy batch admission /
novelty / snapshot diff / exact-substring spans, SemDeDup semantic
dedup with the occupancy-pinned cell knob), similarity search
(float, GEMM, int8, hyperplane-LSH, IVF, product quantization with
ADC + two-stage re-rank, JL random projection, hard-negative mining
— all zero-vector-guarded, norms per vector not per pair), text
curation (quality, Gopher rule flags, surprisal LMs, decontamination,
PII, budgeted mixtures via the exact bucket decomposition, the
five-stage corpus_funnel report), Count-Min frequency sketches,
sequence packing / chunking / LPT-balanced shards, temporal joins
(both as-of directions, interval, band), multimodal plumbing,
sampling/splits/weighted sampling without replacement (global and
per-source A-Res), entity resolution, CDC, profiling, lexical
retrieval (BM25 top-k, positional phrase search, hybrid RRF fusion
with the cosine kNN), the lossless prefix-filter Jaccard join with
its LSH recall meter, fixed-iteration PageRank (unrolled-CTE exact
oracle), cross-corpus LM admission scoring, payload-hash media
dedup, and key-skew diagnostics — plus the later round-4 block: the
point-in-time SCD2 enrichment join, temperature (α=0.5) source
rebalancing, per-shard integrity manifests, RFM segmentation and
decayed user value, Markov event transitions / session paths /
basket support+lift, sliding windows, DAU/WAU rolling actives and
normalized cohort retention, character entropy, sentence-boundary
RAG chunks, per-source duplicate health, quality-aware dedup
representatives, snapshot embedding drift, the closed-form
corpus-diversity diagnostic, keep-one exact-substring dedup
(ExactSubstr spans composed with span removal, single text scan),
daily event-type co-movement correlations, median/MAD robust
outlier screens, and seasonal trend/phase/residual decomposition —
and the final round-4 block: Bloom membership sketches (corpus filter bits +
batch admission gate), the portable oracle-exact HyperLogLog
(registers + audited estimate), PMI collocations,
PSI distribution-drift monitoring, multi-touch linear revenue
attribution, the degree-ordered co-purchase triangle census,
k-anonymity release gates, exact per-group quota sampling,
conversion lag distributions, and the two-proportion A/B z-test —
plus the round-5 block: the oracle-exact quantized Lloyd k-means
(unrolled per-iteration CTE oracle — the registry now has ZERO
rows-only entries), multi-probe hyperplane LSH (Hamming-1 probing,
corpus hashed once), the ann_plan_for strategy planner
(brute-force GEMM under the dot-product budget, two-stage PQ
re-rank above), greedy MMR exemplar selection, source-level
MinHash overlap (mergeable per-source signatures), Kneser-Ney
bigram LM surprisal, one-scan column profiling, and the
skew-salted join pattern carrying its own external correctness
row — plus the round-7 block: the sampled-truth LSH recall meter
(exact truth over a deterministic 1-in-mod hash sample so the meter
stays in budget above the exact-pairs crossover), the t-closeness
release gate (total-variation distance per quasi-identifier class —
completing k-anonymity → l-diversity → t-closeness), the
repeat-capped epoch allocator for data-constrained token budgets
(quality-tiered caps, closed-form epoch water-fill), and the r02
block's integer-contract migration (*_micro / cents BIGINTs replace
every ROUND(double) final column entering the r07 verify window)
— plus the round-6 block: C4-style line-level dedup
(boilerplate_lines census + line_dedup global first-occurrence
keep), the water-filling token budget allocator, the
exact-pairs→LSH crossover planner, PQ re-rank widened to the
recall ≥ 0.9 bar with a bench gate, and the repo-wide integer
"Oracle encoding rule" (COVERAGE.md) that replaced every
ROUND(double)-final contract in the verify window — plus the
round-8 block: the seeded epoch-shuffle training-data permutation
(bucket-decomposed exact global ranks, no global sort), the
simplified-silhouette cluster-quality meter over the k-means cells,
interpolated trigram Kneser-Ney surprisal, the count-table cores of
both KS drift monitors, and the r03/r02 ROUND-carrier migration (28
stale-certified queries re-encoded to per-row cents / micro BIGINT
contracts and re-windowed) — plus the round-9 block: the choose-K
silhouette elbow sweep (exact per-point integer corpus mean, UNION
ALL per-K Lloyd-CTE oracle), the zero-shuffle array-form winnowing
re-plan, the r04 ROUND-carrier migration (15 queries to the integer
contract on their rotation, retiring the last legacy ROUND-jaccard
fragments), the micro(AVG(double)) order-independence fixes, and a
pure-stdlib baseline PNG decoder making the aHash media path real
end-to-end for one actual format — each with a
DuckDB oracle twin (COVERAGE.md is the full map; non-query machinery
— the streaming runner/sinks — is pytest-covered there too).
tests/plan_ledger.json machine-checks that out-of-verify-window
queries' plans are unchanged since their last external
certification.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from flink_ecommerce_spark import catalog, registry  # noqa: E402
from flink_ecommerce_spark.plans import sales  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: sales_per_category —
    the reference's A1 aggregation (DataStreamJob.java:133-136) with
    the full (transaction_date, category) upsert key."""
    events = catalog.table(spark, "/root/testdata/sf0.001", "events")
    return sales.sales_per_category(events, "ts", "event_type", "value")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
