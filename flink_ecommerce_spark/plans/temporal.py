"""Temporal/ordered operators Spark has no native primitive for:
as-of join, range (band) join, time-bucketed aggregation, period-
over-period deltas, latest-per-key.

Scale notes:
- the as-of join is the union+ordered-window construction: one
  shuffle on the join key, state = one row per key held by the
  window — the standard distributed as-of without a per-group
  pandas fallback (no merge_asof needed).
- the band join broadcasts the tiny band table and evaluates the
  BETWEEN predicate map-side (BroadcastNestedLoopJoin over k bands
  — linear in input, no shuffle of the big side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable import micro


def asof_join_last_click(events: DataFrame) -> DataFrame:
    """For every purchase event: the user's most recent click at-or-
    before the purchase (ties on ts broken by event_id — i.e. the
    lexicographic (ts, event_id) predecessor).

    Construction: tag clicks side=0 / purchases side=1, union, then
    one window over (user_id) ordered by (ts, side, event_id)
    carrying the last non-null click id forward. One shuffle total.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = clicks.withColumn("purchase_id", F.lit(None).cast("long"))
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            F.col("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_id",
        )
    )


def interval_join_click_purchase_cents(events: DataFrame) -> DataFrame:
    """Interval join (Flink's interval-join shape): every (click,
    purchase) pair of the same user where the purchase lands within
    one hour after the click. In batch this is an equi-join
    on user_id with a range predicate — one shuffle, and the range
    filter runs during the join; tests/test_stream_joins.py runs the
    same shape stream-stream with watermarks on both sides. Under the
    integer output contract (COVERAGE.md "Oracle encoding rule") the
    money column ships as per-row integer cents (floor(value·100 +
    0.5) BIGINT)."""
    from ..functions.portable import micro

    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOURS")
        ),
    ).select(
        clicks.user_id.alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        micro(F.col("purchase_value"), scale=100).alias("purchase_value_cents"),
    )


PRICE_BANDS: list[tuple[str, float, float]] = [
    ("budget", 0.0, 20000.0),
    ("mid", 20000.0, 60000.0),
    ("premium", 60000.0, 120000.0),
]


def lineitem_price_bands(lineitem: DataFrame) -> DataFrame:
    """Range (band) join: classify line items into price bands via a
    broadcast non-equi join (band table is k rows; predicate runs
    map-side)."""
    spark = lineitem.sparkSession
    bands = spark.createDataFrame(PRICE_BANDS, ["band", "lo", "hi"])
    joined = lineitem.join(
        F.broadcast(bands),
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(micro(F.col("l_extendedprice"), 100)).alias("band_revenue_cents"),
    )


def hourly_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows via F.window (the streaming-native
    operator, exercised in batch): per event_type hourly counts."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro(F.col("value"), 100)).alias("total_value_cents"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value_cents",
        )
    )


def day_over_day_delta(events: DataFrame) -> DataFrame:
    """Period-over-period: daily revenue per event_type with the
    delta vs the previous day (lag window)."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(micro(F.col("value"), 100)).alias("day_value_cents"))
    w = Window.partitionBy("event_type").orderBy("d")
    return daily.withColumn(
        "delta_vs_prev_cents",
        F.col("day_value_cents") - F.lag("day_value_cents").over(w),
    )


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Latest-per-key as a max-struct AGGREGATION, not a window:
    struct ordering on (ts, event_id) reproduces the DESC/DESC
    tie-break (event_id is unique, so the carried event_type is never
    compared), and the aggregate gets map-side combine — every scan
    partition contributes ONE candidate per user to the shuffle,
    where a row_number window would shuffle and sort every event into
    per-user partitions."""
    m = F.max(F.struct("ts", "event_id", "event_type")).alias("m")
    return events.groupBy("user_id").agg(m).select(
        "user_id",
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.event_type").alias("last_event_type"),
        F.col("m.ts").alias("last_ts"),
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per event_type (at 100 TB you'd
    swap percentile -> percentile_approx; exact kept for the oracle)."""
    return events.groupBy("event_type").agg(
        micro(F.expr("percentile(value, 0.5)")).alias("p50_micro"),
        micro(F.expr("percentile(value, 0.9)")).alias("p90_micro"),
        micro(F.expr("percentile(value, 0.99)")).alias("p99_micro"),
    )


HIST_BUCKETS = 256


def value_percentiles_hist(events: DataFrame) -> DataFrame:
    """Bounded-memory percentiles: the 100 TB path that
    ``value_percentiles``' docstring promises. Exact `percentile()`
    holds every group's values in the aggregation state; this
    histogram sketch holds exactly ``HIST_BUCKETS`` counters no matter how
    many rows flow — one scan with map-side-combined bucket counts,
    then percentile selection over a ``HIST_BUCKETS``-row table (the only
    single-partition step is over those 256 rows, bounded by
    construction).

    Estimates are each bucket's UPPER edge — deterministic, error
    bounded by one bucket width (reported as ``bucket_width``), and a
    pure function of (min, max, counts), so it carries an exact
    DuckDB oracle, unlike t-digest/percentile_approx whose sketch
    internals are engine-specific. Output: one row
    (p50_est_micro, p90_est_micro, p99_est_micro,
    bucket_width_micro) — finals as integer micro units (integer
    contract, migrated on its r09 window rotation; the float DAG
    has no partial-sum-order dependence, so micro just replaces the
    ROUND-tie encoding)."""
    from pyspark.sql import Window

    b = events.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count("value").alias("n"),
    )
    # degenerate corpus (all values equal): width 1.0 puts everything
    # in bucket 0 and the estimate collapses to vmin + width... guard
    # by clamping estimates to vmax at the end instead.
    w = F.when(
        F.col("vmax") > F.col("vmin"),
        (F.col("vmax") - F.col("vmin")) / F.lit(float(HIST_BUCKETS)),
    ).otherwise(F.lit(1.0))
    idx = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.floor((F.col("value") - F.col("vmin")) / w),
    ).alias("idx")
    hist = (
        events.select("value")
        .crossJoin(F.broadcast(b))
        .select(idx)
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.select(
        "idx",
        F.sum("cnt")
        .over(Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    sel = cum.crossJoin(F.broadcast(b)).agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.lit(p) * F.col("n"), F.col("idx"))
            ).alias(f"i{tag}")
            for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
        ]
    )
    est = lambda i: micro(  # noqa: E731
        F.least(F.col("vmin") + w * (F.col(i) + 1), F.col("vmax"))
    )
    return sel.crossJoin(F.broadcast(b)).select(
        est("i50").alias("p50_est_micro"),
        est("i90").alias("p90_est_micro"),
        est("i99").alias("p99_est_micro"),
        micro(w).alias("bucket_width_micro"),
    )


def event_metrics_long(events: DataFrame) -> DataFrame:
    """Unpivot (wide->long): per event_type metrics in long format via
    stack(). mean_micro is the integer mean of per-row micro values
    (order-independent — r08 ADVICE residual class); values are
    non-negative by the generator contract, so DIV's dividend is
    non-negative and truncating/flooring engines agree."""
    pre = events.select(
        "event_type",
        micro(F.col("value"), 100).alias("__c"),
        micro(F.col("value")).alias("__u"),
    )
    wide = pre.groupBy("event_type").agg(
        F.sum("__c").alias("total_cents"),
        F.expr("CAST(sum(__u) DIV count(1) AS BIGINT)").alias("mean_micro"),
        F.count(F.lit(1)).alias("n"),
    )
    return wide.selectExpr(
        "event_type",
        "stack(3, 'total_cents', total_cents, 'mean_micro', mean_micro,"
        " 'n', n) AS (metric, metric_value)",
    )


def customers_above_avg_balance(customer: DataFrame) -> DataFrame:
    """Scalar-subquery pattern: customers with balance above the
    global average (computed once, broadcast as a 1-row join).

    The threshold is the FLOOR-mean of per-row micro balances, not
    micro of a double AVG — a partial-sum-order flip in the double's
    last ulp could move the micro grid point and change row
    MEMBERSHIP (r08 ADVICE's worst case). Balances can be negative,
    so the dividend is made an exact multiple of the count first
    (subtract the non-negative pmod remainder): truncating and
    flooring engines return the identical exact quotient."""
    avg_df = customer.select(micro(F.col("c_acctbal")).alias("__u")).agg(
        F.expr(
            "CAST((sum(__u) - pmod(sum(__u), count(1))) DIV count(1)"
            " AS BIGINT)"
        ).alias("avg_bal_micro")
    )
    return (
        customer.crossJoin(F.broadcast(avg_df))
        .filter(micro(F.col("c_acctbal")) > F.col("avg_bal_micro"))
        .select(
            "c_custkey",
            "c_name",
            micro(F.col("c_acctbal"), 100).alias("c_acctbal_cents"),
        )
    )


def asof_join_next_purchase(events: DataFrame) -> DataFrame:
    """Forward as-of join — the attribution companion of
    ``asof_join_last_click``: for every click, the user's EARLIEST
    purchase at-or-after the click (ties on ts broken by event_id).
    Reference has no joins at all (SURVEY §2.6); both as-of
    directions complete the temporal-join family.

    Same union+window construction, mirrored: clicks sort before
    purchases at equal ts (side 0 < 1) so an equal-ts purchase is
    inside the CURRENT ROW .. UNBOUNDED FOLLOWING frame, and
    ``first(ignorenulls)`` carries the next purchase id backward.
    One shuffle on user_id, state one row per key — identical scale
    profile to the backward direction."""
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.withColumn(
        "next_purchase_id", F.first("purchase_id", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("side") == 0).select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "next_purchase_id",
    )


def daily_gapfill(events: DataFrame) -> DataFrame:
    """Gap-filled daily revenue per event_type — the
    time_bucket_gapfill analog (TimescaleDB's continuous-series
    read): every (event_type, day) in the corpus's date span gets a
    row, with the raw sum (NULL on empty days), a
    last-observation-carried-forward value, and a zero-filled value —
    the three standard series-completion policies, side by side so
    downstream charts/models pick one. Revenue ships as per-row-cents
    BIGINT sums (integer contract: quantize before the sum — the
    r08 migration's encoding, applied here on its window rotation).

    Scale: the date spine is sequence(min_day, max_day) exploded from
    a ONE-ROW broadcast aggregate crossed with the distinct types —
    spine size is days x types regardless of event volume; the raw
    daily aggregate (the only event-volume-sized stage) happens
    BEFORE the join, so the spine join and the LOCF window touch
    days x types rows only. LOCF partitions by event_type: per-type
    series windows are the textbook shape (a series with one
    monster type is days-bounded anyway)."""
    daily = (
        events.select(
            F.col("ts").cast("date").alias("day"), "event_type", "value"
        )
        .groupBy("event_type", "day")
        .agg(F.sum(micro(F.col("value"), 100)).alias("revenue_cents"))
    )
    bounds = daily.agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 day"))
        ).alias("day")
    )
    spine = (
        events.select("event_type").distinct().crossJoin(F.broadcast(days))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "revenue_cents",
            F.last("revenue_cents", ignorenulls=True)
            .over(w)
            .alias("revenue_locf_cents"),
            F.coalesce("revenue_cents", F.lit(0).cast("long")).alias(
                "revenue_zero_cents"
            ),
        )
    )


def sql_daily_gapfill() -> str:
    """DuckDB oracle for ``daily_gapfill``."""
    return """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                           AS BIGINT) AS revenue_cents
               FROM events GROUP BY 1, 2),
b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
days AS (SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day
         FROM b),
spine AS (SELECT t.event_type, days.day
          FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN days)
SELECT s.event_type, s.day, d.revenue_cents,
       LAST_VALUE(d.revenue_cents IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_locf_cents,
       CAST(COALESCE(d.revenue_cents, 0) AS BIGINT) AS revenue_zero_cents
FROM spine s
LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
"""


def first_conversion_episode(events: DataFrame) -> DataFrame:
    """CEP-style episode extraction: each user's EARLIEST completed
    view -> click -> purchase chain, where every step strictly
    follows the previous one (the sequential-pattern semantics of
    Flink CEP's `begin("view").followedBy("click").followedBy(
    "purchase")` — not "first click ever", but first click AFTER the
    first view). Returns the matched episode rows
    (user_id, view_ts, click_ts, purchase_ts, seconds_to_convert) —
    the episodes themselves, where conversion_funnel returns only
    stage counts.

    Earliest-completion semantics: v = first view; c = first click
    after v; p = first purchase after c. Greedy-first is exact here:
    choosing any later view/click can only delay (or lose) the
    completion, so the greedy chain completes iff any chain does,
    and completes earliest.

    Scale: each step depends on the previous step's timestamp, so
    the plan is one aggregate per step keyed on user (3 shuffles of
    (user, ts)) — each map-side combined, and the per-user frames
    never carry more than one timestamp per step. A single-pass
    CASE-chain aggregate cannot express the dependency (the click
    filter needs v's result), so three narrow passes is the minimal
    shape."""
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id", "view_ts")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id", "view_ts", "click_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return p.select(
        "user_id",
        "view_ts",
        "click_ts",
        "purchase_ts",
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).cast("double").alias("micros_to_convert"),
    ).withColumn(
        "seconds_to_convert",
        F.round(F.col("micros_to_convert") / 1e6, 6),
    ).drop("micros_to_convert")


def sql_first_conversion_episode() -> str:
    """DuckDB oracle for ``first_conversion_episode``."""
    return """
WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, v.view_ts, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY 1, 2),
p AS (SELECT e.user_id, c.view_ts, c.click_ts, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY 1, 2, 3)
SELECT user_id, view_ts, click_ts, purchase_ts,
       ROUND((epoch_us(CAST(purchase_ts AS TIMESTAMP))
              - epoch_us(CAST(view_ts AS TIMESTAMP))) / 1000000.0, 6)
         AS seconds_to_convert
FROM p
"""


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix between event types: for
    each (current, next) pair within a user's event-time-ordered
    stream, the transition count and conditional probability
    P(next | current). The product-analytics "what happens after a
    click" view, and the input to journey simulation.

    Scale: one window keyed user_id (per-user partitions are bounded
    by a user's own event count), then a types×types aggregation with
    map-side combine; the probability denominator joins back on the
    tiny current-type margin, broadcast."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select(
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    margin = steps.groupBy("cur_type").agg(
        F.sum("n_transitions").alias("__n_cur")
    )
    return steps.join(F.broadcast(margin), "cur_type").select(
        "cur_type",
        "next_type",
        "n_transitions",
        (
            F.round(F.col("n_transitions") / F.col("__n_cur"), 6) + 0.0
        ).alias("p_next"),
    )


def sliding_event_counts(events: DataFrame) -> DataFrame:
    """Sliding-window event rate: per event type, counts in 1-hour
    windows sliding every 15 minutes (each event lands in exactly 4
    overlapping windows). The smoothed operational rate view a
    tumbling hourly count staircases over.

    Scale: F.window with a slide expands each row to
    window/slide = 4 window assignments BEFORE the shuffle (Expand),
    then aggregates with map-side combine — state is windows × types,
    the events table is scanned once."""
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def linear_attribution(events: DataFrame) -> DataFrame:
    """(channel, n_touches, attributed_value) — multi-touch LINEAR
    revenue attribution: each purchase's value splits equally across
    every click/view by the same user in the hour before
    it (strictly earlier); purchases with no preceding touch
    attribute whole to the 'direct' channel. The multi-touch
    complement to ``asof_last_click`` (last-touch) — linear is the
    standard baseline marketing-mix model.

    Shape: one equi-join on user_id with the range predicate running
    inside the join (same interval-join shape as
    ``interval_join_click_purchase_cents``), then two aggregations keyed by
    purchase — the per-purchase touch split is a window SUM over the
    already-aggregated (purchase, channel) frame, so the wide event
    rows never sort, only the counts do. Money rounded to 2dp at the
    final aggregate only."""
    touches = events.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    j = purchases.join(
        touches,
        (purchases.user_id == touches.t_user)
        & (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr("INTERVAL 1 HOURS")
        ),
        "left",
    )
    per = j.groupBy("p_id", "p_value", "channel").agg(
        F.count("t_ts").alias("nc")
    )
    w = Window.partitionBy("p_id")
    per = per.withColumn("nt", F.sum("nc").over(w))
    attr = F.when(F.col("nt") == 0, F.col("p_value")).otherwise(
        F.col("p_value") * F.col("nc") / F.col("nt")
    )
    # integer micro-money units before the cross-purchase sum: float
    # addition is order-dependent and Spark/DuckDB aggregate in
    # different orders — a double sum landed exactly on a .005
    # rounding boundary at sf0.001. Per-row quantization is computed
    # identically in both engines; the long sum is exact. (Same
    # discipline as the NB micro-nat and PQ micro-unit sums.)
    attr_u = F.round(attr * 1_000_000).cast("long")
    return (
        per.select(
            F.coalesce("channel", F.lit("direct")).alias("channel"),
            "nc",
            attr_u.alias("attr_u"),
        )
        .groupBy("channel")
        .agg(
            F.sum("nc").alias("n_touches"),
            (F.round(F.sum("attr_u") / 1_000_000.0, 2) + F.lit(0.0)).alias(
                "attributed_value"
            ),
        )
    )


def conversion_lag_stats(events: DataFrame) -> DataFrame:
    """One-row lag distribution over the matched conversion episodes
    (view → click → purchase, earliest-completion semantics of
    ``first_conversion_episode``): episode count plus median / p90 of
    each step lag and the total — the "HOW LONG does conversion
    take" summary next to conversion_funnel's "how many convert".

    Determinism: lags are computed in INTEGER microseconds and the
    exact percentile interpolates those integers (both engines then
    see bit-identical inputs); the seconds conversion divides once at
    the end. Episode extraction is the three narrow per-user
    aggregations of first_conversion_episode; the final reduce is a
    single aggregate over the (small) episode table."""
    ep = first_conversion_episode(events)

    def us(c: str) -> F.Column:
        return F.unix_micros(F.col(c).cast("timestamp"))

    lagged = ep.select(
        (us("click_ts") - us("view_ts")).alias("l_vc"),
        (us("purchase_ts") - us("click_ts")).alias("l_cp"),
        (us("purchase_ts") - us("view_ts")).alias("l_tot"),
    )

    def pct(col: str, p: float, alias: str) -> F.Column:
        return (
            F.round(F.expr(f"percentile({col}, {p})") / 1e6, 6)
            + F.lit(0.0)
        ).alias(alias)

    return lagged.agg(
        F.count(F.lit(1)).alias("n_episodes"),
        pct("l_vc", 0.5, "median_view_to_click"),
        pct("l_vc", 0.9, "p90_view_to_click"),
        pct("l_cp", 0.5, "median_click_to_purchase"),
        pct("l_cp", 0.9, "p90_click_to_purchase"),
        pct("l_tot", 0.5, "median_total"),
        pct("l_tot", 0.9, "p90_total"),
    )


def sql_conversion_lag_stats() -> str:
    """DuckDB oracle for ``conversion_lag_stats`` (same v/c/p CTEs as
    the episode oracle, integer-microsecond lags, quantile_cont)."""
    pcts = ",\n       ".join(
        f"ROUND(quantile_cont({col}, {p}) / 1000000.0, 6) + 0.0 AS {alias}"
        for col, p, alias in [
            ("l_vc", 0.5, "median_view_to_click"),
            ("l_vc", 0.9, "p90_view_to_click"),
            ("l_cp", 0.5, "median_click_to_purchase"),
            ("l_cp", 0.9, "p90_click_to_purchase"),
            ("l_tot", 0.5, "median_total"),
            ("l_tot", 0.9, "p90_total"),
        ]
    )
    return f"""
WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, v.view_ts, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY 1, 2),
p AS (SELECT e.user_id, c.view_ts, c.click_ts, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY 1, 2, 3),
lagged AS (SELECT
    epoch_us(CAST(click_ts AS TIMESTAMP)) - epoch_us(CAST(view_ts AS TIMESTAMP)) AS l_vc,
    epoch_us(CAST(purchase_ts AS TIMESTAMP)) - epoch_us(CAST(click_ts AS TIMESTAMP)) AS l_cp,
    epoch_us(CAST(purchase_ts AS TIMESTAMP)) - epoch_us(CAST(view_ts AS TIMESTAMP)) AS l_tot
  FROM p)
SELECT CAST(COUNT(*) AS BIGINT) AS n_episodes,
       {pcts}
FROM lagged
"""


def conversion_survival(events: DataFrame) -> DataFrame:
    """(t_days, n_risk, n_events, n_censored, survival) — Kaplan-Meier
    survival curve of days-to-first-purchase after first view, with
    right-censoring at the corpus horizon: the statistically honest
    "X% still unconverted after t days" curve.
    ``conversion_lag_stats`` summarizes only users who DID convert;
    dropping the non-converters biases every lag statistic optimistic
    — KM is the standard fix (each censored user contributes to the
    at-risk denominator up to their observation end, never to the
    event count).

        S(t_i) = Π_{j ≤ i} (1 − d_j / n_j)

    Engine-portable determinism: times are integer DAYS, d/n/c are
    exact integer counts, and the product unrolls as
    exp(Σ ln(1 − d/n)) over an ordered window — the identical IEEE
    sequence in the DuckDB oracle — shipped as INTEGER micro-units
    (``survival_micro`` = floor(S·1e6 + 0.5); ROUND(double, 6) tie
    behavior drifts across oracle-engine releases, VERDICT r05). A
    day where every remaining at-risk user converts (d = n) zeroes
    the curve; ln(0) is engine-dependent (Spark NULL, DuckDB errors),
    so the log term is guarded to d < n and a window MAX flag pins
    survival to exactly 0 from that day on in both engines.

    Scale: two narrow per-user aggregations (first view, first
    subsequent purchase) shuffle user-keyed scalar pairs; everything
    after is arithmetic over a ≤ #distinct-days table — the final
    windows are deliberately tiny-global, like balanced_shards'
    offset table."""
    d = F.to_date("ts")
    fv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(d).alias("view_d"))
    )
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(d).alias("purchase_d"))
    )
    horizon = events.agg(F.max(d).alias("max_d"))
    obs = (
        fv.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("purchase_d").isNotNull()
                & (F.col("purchase_d") >= F.col("view_d")),
                F.datediff("purchase_d", "view_d"),
            )
            .otherwise(F.datediff("max_d", "view_d"))
            .cast("int")
            .alias("t_days"),
            (
                F.col("purchase_d").isNotNull()
                & (F.col("purchase_d") >= F.col("view_d"))
            ).cast("int").alias("is_event"),
        )
    )
    per_t = obs.groupBy("t_days").agg(
        F.sum("is_event").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("is_event")).alias("n_censored"),
    )
    total = per_t.agg(
        F.sum(F.col("n_events") + F.col("n_censored")).alias("__total")
    )
    w_prev = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = F.col("__total") - F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev),
        F.lit(0),
    )
    risked = per_t.crossJoin(F.broadcast(total)).withColumn(
        "n_risk", at_risk.cast("long")
    )
    factor = 1.0 - F.col("n_events").cast("double") / F.col("n_risk")
    dead = F.max((F.col("n_events") == F.col("n_risk")).cast("int")).over(
        w_cum
    )
    log_sum = F.sum(
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
            F.log(factor),
        ).otherwise(F.lit(0.0))
    ).over(w_cum)
    survival = F.when(dead == 1, F.lit(0).cast("long")).otherwise(
        F.floor(F.exp(log_sum) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    )
    return risked.select(
        "t_days",
        "n_risk",
        "n_events",
        "n_censored",
        survival.alias("survival_micro"),
    )


def sql_conversion_survival() -> str:
    """DuckDB twin of ``conversion_survival`` — identical counts,
    window frames, and exp/ln sequence."""
    return """
WITH fv AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS view_d
            FROM events WHERE event_type = 'view' GROUP BY 1),
fp AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS purchase_d
       FROM events WHERE event_type = 'purchase' GROUP BY 1),
h AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
obs AS (SELECT
          CAST(CASE WHEN fp.purchase_d IS NOT NULL
                     AND fp.purchase_d >= fv.view_d
                    THEN datediff('day', fv.view_d, fp.purchase_d)
                    ELSE datediff('day', fv.view_d, h.max_d) END AS INT)
            AS t_days,
          CASE WHEN fp.purchase_d IS NOT NULL
                AND fp.purchase_d >= fv.view_d THEN 1 ELSE 0 END AS is_event
        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN h),
per_t AS (SELECT t_days, CAST(SUM(is_event) AS BIGINT) AS n_events,
                 CAST(COUNT(*) - SUM(is_event) AS BIGINT) AS n_censored
          FROM obs GROUP BY 1),
risked AS (SELECT t_days, n_events, n_censored,
  CAST((SELECT SUM(n_events + n_censored) FROM per_t)
       - COALESCE(SUM(n_events + n_censored) OVER (ORDER BY t_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    AS BIGINT) AS n_risk
  FROM per_t)
SELECT t_days, n_risk, n_events, n_censored,
  CAST(CASE WHEN MAX(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
          OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) = 1
        THEN 0
        ELSE FLOOR(EXP(SUM(CASE WHEN n_events > 0 AND n_events < n_risk
                 THEN LN(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                 ELSE 0.0 END)
               OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)) * 1000000 + 0.5) END
    AS BIGINT) AS survival_micro
FROM risked
"""


def position_attribution(events: DataFrame) -> DataFrame:
    """(channel, n_touches, attributed_value_micro) — POSITION-BASED
    (U-shaped) multi-touch attribution: 40% of each purchase's value
    to the first touch in the window, 40% to the last, 20% split
    equally across the middle; 1 touch takes 100%, 2 touches split
    50/50, no touch attributes to 'direct'. The standard
    first-and-last-weighted complement to ``linear_attribution``
    (equal split) and ``asof_last_click`` (last-touch).

    Shape: the same user-keyed interval join as linear_attribution;
    positions come from a per-purchase window ordered by (touch ts,
    touch event_id) — deterministic under timestamp ties — whose
    partitions are bounded by the touches one user makes in
    one hour, never corpus-sized. Money quantizes to integer
    micro-units per row before the cross-purchase sum (the float-
    order discipline every attribution op here shares)."""
    touches = events.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    j = purchases.join(
        touches,
        (purchases.user_id == touches.t_user)
        & (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr("INTERVAL 1 HOURS")
        ),
        "left",
    )
    w_all = Window.partitionBy("p_id")
    w_pos = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").asc_nulls_first(), F.col("t_id").asc_nulls_first()
    )
    nt = F.count("t_ts").over(w_all)
    pos = F.row_number().over(w_pos)
    weight = (
        F.when(nt <= 1, F.lit(1.0))
        .when(nt == 2, F.lit(0.5))
        .otherwise(
            F.when((pos == 1) | (pos == nt), F.lit(0.4)).otherwise(
                F.lit(0.2) / (nt - 2)
            )
        )
    )
    attr_u = F.floor(
        F.col("p_value") * weight * 1_000_000 + F.lit(0.5)
    ).cast("long")
    per = j.select(
        F.coalesce("channel", F.lit("direct")).alias("channel"),
        F.col("t_ts").isNotNull().cast("long").alias("__is_touch"),
        attr_u.alias("__attr_u"),
    )
    return per.groupBy("channel").agg(
        F.sum("__is_touch").alias("n_touches"),
        F.sum("__attr_u").alias("attributed_value_micro"),
    )


TOUCH_CHANNELS = ("click", "view")  # same touch set as linear_attribution
MARKOV_STEPS = 8  # absorption horizon (journeys are short; see docstring)


def _markov_transitions(events: DataFrame) -> DataFrame:
    """(src, dst, p_u) — first-order journey transition matrix in
    integer micro-probabilities. States: START, the touch channels,
    CONV (purchase), NULL (journey ends unconverted). Journeys split
    AT each purchase: the running count of strictly-earlier CONV rows
    per user is the journey id, so a purchase terminates its own
    journey and the next touch starts a fresh one."""
    ev = events.filter(
        F.col("event_type").isin(*TOUCH_CHANNELS, "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("state"),
    )
    w_u = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev2 = ev.withColumn(
        "j",
        F.coalesce(
            F.sum(F.when(F.col("state") == "CONV", 1).otherwise(0)).over(
                w_u
            ),
            F.lit(0),
        ),
    )
    w_j = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    ev3 = ev2.withColumn("prev", F.lag("state").over(w_j)).withColumn(
        "nxt", F.lead("state").over(w_j)
    )
    edges = ev3.select(
        F.coalesce("prev", F.lit("START")).alias("src"),
        F.col("state").alias("dst"),
    ).unionAll(
        ev3.filter(F.col("nxt").isNull() & (F.col("state") != "CONV"))
        .select(F.col("state").alias("src"), F.lit("NULL").alias("dst"))
    )
    counts = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("src").agg(F.sum("n").alias("tot"))
    return counts.join(tot, "src").select(
        "src",
        "dst",
        F.expr("CAST((n * 1000000) DIV tot AS BIGINT)").alias("p_u"),
    )


def markov_attribution(events: DataFrame) -> DataFrame:
    """(channel, base_pconv_u, removed_pconv_u, effect_u, share_u) —
    Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2014), the
    data-driven successor to the positional heuristics
    (``linear_attribution`` splits equally, ``position_attribution``
    by slot): build the first-order journey transition matrix, then
    for each channel ask "how much conversion probability disappears
    if every hop into this channel dead-ends instead?" — channels
    that merely appear in journeys but never move them toward
    purchase attribute ~nothing, which no positional rule can see.

    Mechanism: absorption probability at CONV is computed by
    ``MARKOV_STEPS`` propagation rounds (the oracle unrolls the same rounds
    as CTEs — no recursive CTE, whose aggregate-in-recursion rules
    differ by engine); a channel's removal redirects its inbound hops
    to NULL WITHOUT renormalizing (the standard removal semantics).
    Truncation at ``MARKOV_STEPS`` discards the leftover transient mass
    identically in both engines; ``journey_length_hist`` is the
    companion METER — on the fixture it reads cum_share 96.8% of
    journeys within 8 hops — and the residual largely cancels in the
    effect ratios anyway, because the base and removal walks truncate
    at the same horizon. share_u normalizes effects to micro-shares
    with a max(,1) guard for the zero-conversion corpus.

    Everything after the edge build is integer arithmetic on a
    state-space-sized matrix: p_u = n·1e6 DIV row-total, step masses
    = SUM(m_u·p_u) DIV 1e6 — longs end to end, no float summation
    surface.

    Scale (re-planned in the r09 optimization round): the edge build
    is two windows partitioned BY user (the user_sessions shape —
    never global) and is the ONLY data-sized work. The transition
    matrix is (channels+3)² rows INDEPENDENT of corpus size, so it
    collects to the driver (the same bounded-artifact pattern as
    k-means' k×d centroids) and the (base + per-channel-removal)
    propagation walks run as exact integer arithmetic in Python —
    Spark SQL ``DIV`` and Python ``//`` agree on the non-negative
    masses involved. The previous all-Spark unrolling evaluated
    3 walks × Σ(MARKOV_STEPS) ≈ 108 broadcast-join mini-plans whose
    fixed job overhead dominated wall time at EVERY corpus size
    (60.99 s at the 10× rehearsal, ~95% of it spent on the ≤25-row
    matrix); the collected-matrix form keeps the identical integer
    results (oracle-pinned) while the Spark side does exactly one
    edge-build job."""
    trans_rows = [
        (r["src"], r["dst"], r["p_u"])
        for r in _markov_transitions(events).collect()
    ]

    def walk(edges: list[tuple[str, str, int]]) -> int:
        out: dict[str, list[tuple[str, int]]] = {}
        for s, d, p in edges:
            out.setdefault(s, []).append((d, p))
        v = {"START": 1_000_000}
        conv = 0
        for _ in range(MARKOV_STEPS):
            nxt_num: dict[str, int] = {}
            for s, m in v.items():
                if s in ("CONV", "NULL"):
                    continue
                for d, p in out.get(s, ()):
                    nxt_num[d] = nxt_num.get(d, 0) + m * p
            # SUM first, one floor-DIV per dst — the exact grouping
            # the Spark/DuckDB unrollings both use
            v = {d: num // 1_000_000 for d, num in nxt_num.items()}
            conv += v.get("CONV", 0)
        return conv

    base = walk(trans_rows)
    effects: list[tuple[str, int, int]] = []
    for c in TOUCH_CHANNELS:
        merged: dict[tuple[str, str], int] = {}
        for s, d, p in trans_rows:
            if s == c:
                continue
            key = (s, "NULL" if d == c else d)
            merged[key] = merged.get(key, 0) + p
        removed = walk([(s, d, p) for (s, d), p in merged.items()])
        effects.append((c, removed, max(base - removed, 0)))
    tot = sum(e for _, _, e in effects)
    data = [
        (c, base, removed, eff, (eff * 1_000_000) // max(tot, 1))
        for c, removed, eff in effects
    ]
    return events.sparkSession.createDataFrame(
        data,
        "channel string, base_pconv_u long, removed_pconv_u long, "
        "effect_u long, share_u long",
    )


def sql_markov_attribution() -> str:
    """DuckDB oracle for ``markov_attribution`` — identical journey
    split, integer matrix, and unrolled propagation rounds."""

    def prop(tag: str, trans_cte: str) -> str:
        ctes = [
            f"{tag}0 AS (SELECT 'START' AS state, CAST(1000000 AS BIGINT) AS m_u)"
        ]
        for i in range(1, MARKOV_STEPS + 1):
            ctes.append(
                f"{tag}{i} AS (SELECT t.dst AS state,\n"
                f"  CAST(SUM(v.m_u * t.p_u) // 1000000 AS BIGINT) AS m_u\n"
                f"  FROM {tag}{i - 1} v JOIN {trans_cte} t ON t.src = v.state\n"
                f"  WHERE v.state NOT IN ('CONV', 'NULL') GROUP BY 1)"
            )
        union = "\n  UNION ALL ".join(
            f"SELECT m_u FROM {tag}{i} WHERE state = 'CONV'"
            for i in range(1, MARKOV_STEPS + 1)
        )
        ctes.append(
            f"{tag}conv AS (SELECT CAST(COALESCE(SUM(m_u), 0) AS BIGINT)"
            f" AS pconv_u FROM ({union}))"
        )
        return ",\n".join(ctes)

    removals = ",\n".join(
        f"trans_{c} AS (SELECT src,"
        f" CASE WHEN dst = '{c}' THEN 'NULL' ELSE dst END AS dst,"
        f" CAST(SUM(p_u) AS BIGINT) AS p_u"
        f" FROM trans WHERE src <> '{c}' GROUP BY 1, 2)"
        for c in TOUCH_CHANNELS
    )
    props = ",\n".join(
        [prop("b", "trans")]
        + [prop(f"r{c}", f"trans_{c}") for c in TOUCH_CHANNELS]
    )
    eff_rows = "\n  UNION ALL ".join(
        f"SELECT '{c}' AS channel, b.pconv_u AS base_pconv_u,"
        f" r.pconv_u AS removed_pconv_u,"
        f" CAST(GREATEST(b.pconv_u - r.pconv_u, 0) AS BIGINT) AS effect_u"
        f" FROM bconv b CROSS JOIN r{c}conv r"
        for c in TOUCH_CHANNELS
    )
    channels = ", ".join(f"'{c}'" for c in TOUCH_CHANNELS)
    return f"""
WITH ev AS (SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END AS state
            FROM events WHERE event_type IN ({channels}, 'purchase')),
ev2 AS (SELECT *, COALESCE(SUM(CASE WHEN state = 'CONV' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS j
        FROM ev),
ev3 AS (SELECT *, LAG(state) OVER w AS prev, LEAD(state) OVER w AS nxt
        FROM ev2
        WINDOW w AS (PARTITION BY user_id, j ORDER BY ts, event_id)),
edges AS (SELECT COALESCE(prev, 'START') AS src, state AS dst FROM ev3
          UNION ALL
          SELECT state, 'NULL' FROM ev3
          WHERE nxt IS NULL AND state <> 'CONV'),
counts AS (SELECT src, dst, COUNT(*) AS n FROM edges GROUP BY 1, 2),
tot AS (SELECT src, SUM(n) AS tot FROM counts GROUP BY 1),
trans AS (SELECT c.src, c.dst,
                 CAST((c.n * 1000000) // t.tot AS BIGINT) AS p_u
          FROM counts c JOIN tot t USING (src)),
{removals},
{props},
eff AS ({eff_rows}),
total AS (SELECT SUM(effect_u) AS t FROM eff)
SELECT channel, base_pconv_u, removed_pconv_u, effect_u,
       CAST((effect_u * 1000000) // GREATEST(total.t, 1) AS BIGINT)
         AS share_u
FROM eff CROSS JOIN total
"""


def journey_length_hist(events: DataFrame) -> DataFrame:
    """(journey_len, n_journeys, cum_share_u) — distribution of
    attribution-journey lengths (touches + terminal CONV, the same
    journey split as ``markov_attribution``): the meter behind that
    operator's 8-step truncation. The claim "journeys are a handful
    of hops, the residual is noise" ships as a measurement — a
    pipeline asserts cum_share_u at len ≤ MARKOV_STEPS is ~1e6
    before trusting the truncated absorption, instead of taking the
    docstring's word for it.

    Scale: one user-partitioned window (the same pass the matrix
    build runs), then a histogram keyed by journey length — bounded
    by the longest journey, not the corpus. The cumulative share is
    a window over that histogram (bounded grid — the documented
    tiny-global-window pattern), in integer micro-units."""
    ev = events.filter(
        F.col("event_type").isin(*TOUCH_CHANNELS, "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("state"),
    )
    w_u = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev2 = ev.withColumn(
        "j",
        F.coalesce(
            F.sum(F.when(F.col("state") == "CONV", 1).otherwise(0)).over(
                w_u
            ),
            F.lit(0),
        ),
    )
    jl = ev2.groupBy("user_id", "j").agg(
        F.count(F.lit(1)).alias("journey_len")
    )
    hist = jl.groupBy("journey_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_journeys")
    )
    tot = hist.agg(F.sum("n_journeys").alias("__t"))
    w_cum = (
        Window.orderBy("journey_len")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("__cum", F.sum("n_journeys").over(w_cum))
        .select(
            F.col("journey_len").cast("long").alias("journey_len"),
            "n_journeys",
            F.expr(
                "CAST((__cum * 1000000) DIV __t AS BIGINT)"
            ).alias("cum_share_u"),
        )
    )


def sql_journey_length_hist() -> str:
    """DuckDB oracle for ``journey_length_hist`` — identical split,
    histogram, and integer cumulative share."""
    channels = ", ".join(f"'{c}'" for c in TOUCH_CHANNELS)
    return f"""
WITH ev AS (SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END AS state
            FROM events WHERE event_type IN ({channels}, 'purchase')),
ev2 AS (SELECT *, COALESCE(SUM(CASE WHEN state = 'CONV' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS j
        FROM ev),
jl AS (SELECT user_id, j, COUNT(*) AS journey_len FROM ev2 GROUP BY 1, 2),
hist AS (SELECT journey_len, COUNT(*) AS n_journeys FROM jl GROUP BY 1),
tot AS (SELECT SUM(n_journeys) AS t FROM hist)
SELECT CAST(journey_len AS BIGINT) AS journey_len,
       CAST(n_journeys AS BIGINT) AS n_journeys,
       CAST((SUM(n_journeys) OVER (ORDER BY journey_len
                                   ROWS UNBOUNDED PRECEDING) * 1000000)
            // tot.t AS BIGINT) AS cum_share_u
FROM hist CROSS JOIN tot
"""
