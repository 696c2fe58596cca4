"""Scale utilities: skew-salted joins and small-input parallelism.

These are the knobs a 100 TB deployment turns when the defaults
(AQE skew-join splitting, sort-merge) aren't enough:

- ``salted_join``: explicit key salting for a pathologically hot key
  joining against a dimension — replicate the dim side SALT ways,
  spray the fact side — turning one straggler partition into SALT
  even ones. AQE's skew handling splits oversized partitions at
  runtime; explicit salting is for when you know the hot key ahead
  of time (e.g. the null/default-tenant key) and want deterministic
  layout.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import micro

DEFAULT_SALT = 16


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join fact⋈dim on ``key`` with ``salt``-way key splitting.

    fact rows get a random-but-deterministic salt (hash of the full
    row key + a row discriminator would need a unique col; we use
    monotonically varying spark_partition_id + a cheap row hash so
    hot-key rows spread evenly), dim rows are replicated across all
    salts. Result equals a plain join (verified in tests).

    Only fact-preserving join types are salting-safe: the dim side is
    replicated ``salt`` ways, so right/full/outer joins would emit up
    to ``salt`` spurious unmatched dim rows per unmatched key."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "semi", "left_anti", "leftanti", "anti"):
        raise ValueError(
            f"salted_join: how={how!r} is not salting-safe (dim side is "
            "replicated); use inner/left/semi/anti or a plain join"
        )
    fact_salted = fact.withColumn(
        "__salt",
        (F.abs(F.xxhash64(F.col(key), F.spark_partition_id(), F.monotonically_increasing_id())) % salt).cast("int"),
    )
    dim_salted = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
    )
    out = fact_salted.join(dim_salted, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the plan has fewer partitions
    than ``spark.sql.shuffle.partitions`` — e.g. a small single-file
    scan feeding CPU-heavy per-row work (hashing, decoding). At 100 TB
    the scan already has thousands of splits and this is a no-op, so
    the extra shuffle is strictly a small-input fixup, never a scale
    cost. The target is the session conf (``get_spark`` sets it to the
    core count), not the host's cores, so a plan does not change with
    the machine that builds it."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


HEAVY_SCAN_MIN_BYTES = 4 << 20  # per-partition estimate that justifies the fixup


def ensure_parallelism_for_heavy_scan(df: DataFrame) -> DataFrame:
    """``ensure_parallelism`` gated on the plan's size estimate: the
    round-robin shuffle ships the full input once, so it only pays
    when each of the too-few partitions carries enough CPU-heavy
    work. Measured on corpus_funnel: a 0.6 MB single-file corpus is
    FASTER un-repartitioned (3.2 s vs 5.5 s — shuffle overhead beats
    the parallelism win), a 10× single-partition corpus is 2.4×
    faster repartitioned (17 s → 7 s).

    The size estimate is trusted only for FILE-backed plans (real
    bytes on disk). RDD-backed frames (localCheckpoint) estimate
    strings at a fixed ~18 bytes regardless of content — a 10 MB
    text corpus reports ~1 MB — so those err toward repartitioning:
    over-shuffling a genuinely tiny frame costs milliseconds, while
    single-core-scanning a heavy one costs the 2.4×."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parts = df.rdd.getNumPartitions()
    # 0 partitions = the optimizer proved the frame empty (LocalRelation
    # from filter(lit(false)) / limit(0)); nothing to spread, and the
    # size//parts gate below would divide by zero.
    if parts == 0 or parts >= target:
        return df
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size: int | None = int(plan.stats().sizeInBytes())
        if "LogicalRDD" in plan.toString():
            size = None  # string payloads not in the estimate
    except Exception:  # stats unavailable — assume heavy
        size = None
    if size is not None and size // parts < HEAVY_SCAN_MIN_BYTES:
        return df
    return df.repartition(target)


@contextmanager
def _aqe_off(spark):
    """Turn ``spark.sql.adaptive.enabled`` off for the block, then put
    the key back as it was; a key that was unset is unset again. The
    key is session-global and nothing locks it: plan construction is
    assumed to be single-threaded."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def checkpoint_partitioned(
    df: DataFrame, *cols: str, eager: bool = True
) -> DataFrame:
    """``repartition(cols) + localCheckpoint(eager=True)`` with AQE
    disabled for just the materialization (r10, guide §2.4).

    Why: under AQE, ``Dataset.localCheckpoint`` captures the
    partitioning of the physical root — an ``AdaptiveSparkPlanExec``
    whose output partitioning is UNKNOWN before execution — so the
    checkpointed LogicalRDD records ``UnknownPartitioning`` and every
    downstream join re-exchanges the table. The iterative operators
    (connected_components, pagerank) pre-partition their EDGE table on
    the per-round join key precisely so the big side never reshuffles
    across rounds; with AQE on, that repartition silently bought
    nothing (observed: every checkpoint scan in
    plans/r10/supplier_pagerank_before.txt reads
    ``UnknownPartitioning(0)`` and the per-round plans re-exchange
    both sides). Flipping AQE off for this one materialization makes
    the checkpoint record ``hashpartitioning(cols, N)``; per-round
    joins then exchange only the small (ranks/labels) side —
    N follows spark.sql.shuffle.partitions, the session's
    scale-adaptive setting. Values are unaffected: only the recorded
    output partitioning changes.

    ``eager=False`` defers the materializing job to the first FULL
    downstream action (guide §5 / VERDICT r09 #5 job-count audit):
    correct whenever the first consumer is a single sequential job —
    a frame feeding two PARALLEL stages of one job should stay eager
    or both stages race to compute it."""
    with _aqe_off(df.sparkSession):
        return df.repartition(*cols).localCheckpoint(eager=eager)


def checkpoint_keep_partitioning(
    df: DataFrame, eager: bool = False
) -> DataFrame:
    """``localCheckpoint`` that records the child's EXISTING output
    partitioning (no repartition) — same AQE mechanics as
    ``checkpoint_partitioned``: under AQE the captured LogicalRDD
    reads UnknownPartitioning, so loop-state checkpoints (the CC
    label table, the pagerank rank table) silently dropped the
    partitioning their producing join/aggregate had already paid
    for, and the next round re-exchanged them. Planning happens at
    call time either way (``eager`` only controls when the
    materializing job runs), so flipping AQE off around the call is
    enough. The loop-state frames are the SMALL side (edge-touched
    vertices / node ranks), so losing AQE for their per-round jobs
    costs nothing; the win is the removed per-round exchange."""
    with _aqe_off(df.sparkSession):
        return df.localCheckpoint(eager=eager)


def key_skew_topk(df: DataFrame, key: str) -> DataFrame:
    """The heaviest keys of a prospective join/groupBy key, with their
    row share — the pre-flight check before keying a 100 TB shuffle
    (a key holding >> 1/partitions of the rows means salting,
    `salted_join`, or an AQE skew split). Output: (key, n_rows,
    share_micro, rank) — share as PURE-INTEGER micro units
    ((n·10⁶) DIV total: both operands exact counts, no float
    anywhere; integer contract, migrated on its r09 window rotation).
    One groupBy on the key; the total is a broadcast one-row
    aggregate; the top-k itself is orderBy+limit —
    TakeOrderedAndProject, a per-partition heap + driver merge —
    NEVER a global row_number window, which would sort all n_keys
    rows through one task. Ranks are assigned after the limit, over
    10 rows."""
    from pyspark.sql import Window

    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.expr("CAST((n_rows * 1000000) DIV __total AS BIGINT)").alias(
                "share_micro"
            ),
        )
        .orderBy(F.col("n_rows").desc(), F.col(key))
        .limit(10)
    )
    rank = F.row_number().over(
        Window.orderBy(F.col("n_rows").desc(), F.col(key))
    )
    return top.withColumn("rank", rank)


def key_skew_summary(df: DataFrame, key: str) -> DataFrame:
    """One-row distribution summary of per-key cardinality: how skewed
    is this key, in numbers a planner can threshold on. skew_ratio =
    max/avg (1.0 = perfectly even; >> partitions = one hot key owns
    the shuffle).

    Integer contract (migrated on its r09 window rotation): the mean
    is the pure-integer (Σ·10⁶) DIV k; percentiles and the skew
    ratio are micro() of a fixed float DAG whose inputs are exact
    integer counts — interpolation and one division, no
    partial-sum-order dependence (the counts sum exactly)."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    from ..functions.portable import micro

    skew = F.max("n_rows") / (
        F.sum("n_rows").cast("double") / F.count(F.lit(1))
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
        F.expr(
            "CAST((sum(n_rows) * 1000000) DIV count(1) AS BIGINT)"
        ).alias("avg_rows_micro"),
        micro(F.expr("percentile(n_rows, 0.5)")).alias("p50_rows_micro"),
        micro(F.expr("percentile(n_rows, 0.99)")).alias("p99_rows_micro"),
        micro(skew).alias("skew_ratio_micro"),
    )


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_name, n_rows, n_nulls, null_frac_micro, n_distinct) per
    profiled column — the preflight a pipeline runs before trusting a
    new drop of data (a key column that suddenly grew nulls, or a
    category column whose cardinality exploded, breaks joins and
    aggregations downstream in ways that surface much later).
    null_frac ships as integer micro-units (COVERAGE.md "Oracle
    encoding rule").

    Scale: ONE corpus scan — all per-column counters ride a single
    aggregation (the multi-countDistinct expands via Expand but still
    partial-aggregates map-side); the row-per-column shape is a
    driver-free explode of a one-row frame. Counts are exact and
    type-agnostic (distinctness is value-based, so the report is
    engine-portable without string-casting numerics)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                micro(
                    F.col(f"__nulls_{c}").cast("double") / F.col("__n")
                ).alias("null_frac_micro"),
                F.col(f"__dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(structs).alias("p")).select(
        "p.col_name",
        "p.n_rows",
        "p.n_nulls",
        "p.null_frac_micro",
        "p.n_distinct",
    )


PREFILTER_BITS = 8192  # Bloom filter size of bloom_prefilter
PREFILTER_HASHES = 4  # probes per key


def bloom_prefilter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str | None = None,
) -> DataFrame:
    """Runtime-filter / sideways-information-passing: drop fact rows
    that CANNOT join (their key misses the Bloom filter of the other
    side's keys) BEFORE the join's shuffle — at 100 TB the win is
    that non-joining fact rows die map-side in the scan stage instead
    of riding the exchange. Spark's own runtime bloom filters do this
    inside the optimizer when statistics cooperate; this operator is
    the explicit, deterministic form for when they don't (e.g. the
    filter side is itself the output of a complex subquery).

    NO FALSE NEGATIVES: every fact row whose key exists on the keys
    side passes, so `fact.join(keys, ...)` on the prefiltered fact
    equals the unfiltered join exactly (property-tested). False
    positives just ride along to the join, which stays correct.
    NULL fact keys are KEPT (``keep`` coalesces to true): a NULL key
    never equi-joins anyway, so passing it through is lossless for
    the inner-join prefilter AND leaves null-preserving / outer-join
    reuse of the filtered fact correct.

    EAGER: building the mask runs the keys-side aggregation NOW (one
    bounded .collect() of ≤ PREFILTER_BITS distinct positions — the sketch,
    never the keys); constructing this plan is not free, unlike the
    lazy operators around it.

    Mechanics: the keys side reduces to ≤ PREFILTER_BITS set positions via
    Kirsch-Mitzenmacher double hashing (one md5 per key); those pack
    into PREFILTER_BITS/64 longs, collected — a BOUNDED pull
    (the sketch, never the keys) embedded as a literal bitmask, so
    the membership test is a pure map-side expression: no join, no
    shuffle, no broadcast table."""
    from ..functions.portable import hash32_from_digest, salted_md5

    kc = keys_key or fact_key

    def halves(col):
        d = salted_md5(F.col(col).cast("string"), salt="bloomjoin")
        return hash32_from_digest(d, 0), hash32_from_digest(d, 1)

    h1, h2 = halves(kc)
    pos_rows = (
        keys.select(
            F.explode(
                F.array(
                    *[
                        ((h1 + F.lit(j) * h2) % PREFILTER_BITS).cast("int")
                        for j in range(PREFILTER_HASHES)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    n_words = (PREFILTER_BITS + 63) // 64
    mask = [0] * n_words
    for r in pos_rows:
        mask[r["pos"] // 64] |= 1 << (r["pos"] % 64)
    # two's-complement fold into signed 64-bit for the long literal
    mask = [w - (1 << 64) if w >= (1 << 63) else w for w in mask]
    mask_col = F.array(*[F.lit(w).cast("long") for w in mask])

    f1, f2 = halves(fact_key)
    checks = []
    for j in range(PREFILTER_HASHES):
        p = (f1 + F.lit(j) * f2) % PREFILTER_BITS
        word = F.element_at(mask_col, (p / 64).cast("int") + 1)
        checks.append(F.getbit(word, (p % 64).cast("int")) == 1)
    keep = checks[0]
    for c in checks[1:]:
        keep = keep & c
    # NULL fact key → hash comparisons are NULL → keep is NULL; a NULL
    # key can't equi-join, so keeping the row is lossless and correct
    # for outer-join / null-preserving reuse (ADVICE r04)
    return fact.filter(F.coalesce(keep, F.lit(True)))


def join_fanout_topk(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    k: int = 10,
) -> DataFrame:
    """(key, n_left, n_right, n_out_rows) for the k keys that would
    produce the MOST output rows in an equi-join — the pre-flight a
    pipeline runs before a fact-fact join at scale: per-key output is
    the count PRODUCT, so one key with 10⁵ rows on each side emits
    10¹⁰ rows and takes the job down. key_skew_* profile one side;
    the fanout check is the two-sided number that actually predicts
    the explosion.

    Scale: two per-key count aggregates (map-side combined), an
    equi-join of the two COUNT tables (inner: only keys present on
    both sides produce join output), TakeOrderedAndProject for the
    top-k. The inputs' wide rows never move — only (key, count)."""
    lc = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    rc = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    return (
        lc.join(rc, "key")
        .select(
            "key",
            "n_left",
            "n_right",
            (F.col("n_left") * F.col("n_right")).alias("n_out_rows"),
        )
        .orderBy(F.desc("n_out_rows"), F.asc("key"))
        .limit(k)
    )
