"""Window functions, grouping sets, set operations, sessionization —
the analytic operators the reference lacks entirely (SURVEY.md §2.6)
exposed as Spark builtins.

Scale notes: every window here partitions by a real key (never a
global ORDER BY over everything), so state stays per-partition.
ROLLUP/CUBE expand grouping sets BEFORE the shuffle (Expand operator)
and still do partial aggregation map-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable import micro


def top_users_per_event_type(events: DataFrame) -> DataFrame:
    """Top-k users by total value within each event_type:
    agg → ranked window → filter. Classic two-shuffle top-k; the
    window partitions on event_type so no global sort."""
    per_user = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("user_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("user_value"), F.asc("user_id")
    )
    return (
        per_user.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "user_id", "user_value", "rk")
    )


def _daily_values(events: DataFrame) -> DataFrame:
    """The shared (event_type, d, day_value, day_num) daily-revenue
    frame under weekly_moving_avg / daily_anomaly_scores /
    seasonal_daily_decompose: one corpus scan with map-side combine
    into days × types rows, day_value rounded to 2dp (what both
    engines then window over), day_num = days since epoch (the RANGE
    frame / weekly-phase key). Shared so the three companions can
    never silently disagree on what a "day value" is."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    return daily.withColumn(
        "day_num", F.datediff("d", F.lit("1970-01-01"))
    )


def daily_running_revenue(events: DataFrame) -> DataFrame:
    """Cumulative revenue per event_type over days (running total
    window frame — unbounded preceding to current row)."""
    daily = events.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn(
        "running_value", F.round(F.sum("day_value").over(w), 2)
    )


def _sessionized(events: DataFrame, gap_minutes: int) -> DataFrame:
    """Gap-based sessionization frame shared by user_sessions and
    top_session_paths: the input plus (new_sess, sess_id) columns.
    New session when the gap to the user's previous event exceeds
    ``gap_minutes``.

    cast: unix_micros rejects TIMESTAMP_NTZ, and the fixture's ts
    arrives as NTZ or TZ depending on how the parquet was written;
    the session timezone is pinned UTC (catalog.table) so the cast
    is deterministic either way."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.expr("unix_micros(cast(ts as timestamp))")
    gap = micros - F.lag(micros).over(w)
    return events.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def user_sessions(events: DataFrame) -> DataFrame:
    """Sessionization via lag + gap-cumsum (the batch equivalent of a
    session window): new session when the gap to the previous event of
    the same user exceeds 30 minutes. Output: per-user session
    count and average session length (events per session).

    micro(AVG(n_events)) is order-INDEPENDENT here despite the double
    AVG: the inputs are integers, integers sum exactly in doubles
    below 2^53, and the single final division is one IEEE op — no
    partial-sum-order hazard (unlike AVG over fractional doubles,
    the r08 ADVICE class)."""
    per_session = _sessionized(events, 30).groupBy(
        "user_id", "sess_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        micro(F.avg("n_events")).alias("avg_events_per_session_micro"),
    )


def session_window_stats(events: DataFrame) -> DataFrame:
    """Native session-window aggregation (F.session_window — the same
    operator Structured Streaming uses for streaming sessions): merge
    each user's events closer than 30 minutes, emit session bounds and
    size. Boundary semantics: an event exactly 30 minutes after the
    previous one starts a NEW session (window end is exclusive)."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def weekly_moving_avg(events: DataFrame) -> DataFrame:
    """7-day moving average of daily revenue per event_type — a
    RANGE window frame keyed on days-since-epoch, so gaps in the
    calendar are handled by value (a missing day still shrinks the
    window) rather than by row position."""
    daily = _daily_values(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "d",
        "day_value",
        F.round(F.avg("day_value").over(w), 6).alias("weekly_avg"),
    )


def user_value_quartiles(events: DataFrame) -> DataFrame:
    """Ranking-function family over per-user totals: NTILE(4),
    PERCENT_RANK, CUME_DIST — without the global single-partition
    window (round 1 pushed every per-user row through ONE task).

    Distributed exact ranking: range-repartition on the sort key,
    row_number within each range partition, then add per-partition
    row-count offsets (a numPartitions-sized table, collected and
    folded back in as a literal map — the same driver-side footprint
    as a k-means centroid round). The sort key
    (total_value DESC, user_id ASC) is unique per row, so
    rank == row_number and all three functions are closed-form in
    (rn, n):  percent_rank = (rn-1)/(n-1);  cume_dist = rn/n;
    ntile(4) gives the first n%4 buckets ceil(n/4) rows. No stage
    anywhere sees more than one range partition of data.

    NOTE — eager by design: CALLING this function runs two Spark jobs
    (localCheckpoint of the range-partitioned aggregate + collect of
    the numPartitions-sized per-partition counts) before returning
    the DataFrame. The checkpoint is what freezes ONE range-boundary
    sample for both the offsets job and the returned plan —
    repartitionByRange samples its boundaries per execution, so a
    lazy twin-branch formulation would only be consistent if Exchange
    reuse kicked in, which the API doesn't guarantee. Driver-side
    state is one (pid, count) row per partition — centroid-table
    sized, not data-sized."""
    per_user = events.groupBy("user_id").agg(
        F.sum(micro(F.col("value"), 100)).alias("total_value_cents")
    )
    part = per_user.repartitionByRange(
        F.desc("total_value_cents"), F.asc("user_id")
    ).withColumn("pid", F.spark_partition_id())
    # Freeze pid: the counts job and the ranked plan below must see the
    # SAME range-boundary sample (and skip recomputing the aggregate).
    part = part.localCheckpoint(eager=True)
    cnt_rows = sorted(
        (r["pid"], r["cnt"])
        for r in part.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    n_total = sum(c for _, c in cnt_rows)
    offsets: dict[int, int] = {}
    acc = 0
    for pid, c in cnt_rows:
        offsets[pid] = acc
        acc += c
    off_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    w_local = Window.partitionBy("pid").orderBy(
        F.desc("total_value_cents"), F.asc("user_id")
    )
    ranked = part.withColumn(
        "rn",
        (F.coalesce(off_map[F.col("pid")], F.lit(0)) + F.row_number().over(w_local)).cast(
            "long"
        ),
    )
    n = F.lit(n_total).cast("long")
    rn = F.col("rn")
    big = F.floor(n / 4) + 1  # size of the first n%4 buckets
    small = F.greatest(F.floor(n / 4), F.lit(1))  # guard n<4 (ANSI /0)
    r = n % 4
    quartile = (
        F.when(rn <= r * big, F.floor((rn - 1) / big) + 1)
        .otherwise(r + F.floor((rn - 1 - r * big) / small) + 1)
        .cast("int")
    )
    pct_rank = F.when(n == 1, F.lit(0.0)).otherwise(
        (rn - 1).cast("double") / (n - 1).cast("double")
    )
    return ranked.select(
        "user_id",
        "total_value_cents",
        quartile.alias("quartile"),
        micro(pct_rank).alias("pct_rank_micro"),
        micro(rn.cast("double") / n.cast("double")).alias("cume_dist_micro"),
    )


def sales_rollup(events: DataFrame) -> DataFrame:
    """ROLLUP (year, month): totals at month, year, and grand-total
    levels in one pass (Expand → single shuffle)."""
    return (
        events.select(
            F.year("ts").alias("year"), F.month("ts").alias("month"), "value"
        )
        .rollup("year", "month")
        .agg(
            F.round(F.sum("value"), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def event_type_cube(events: DataFrame) -> DataFrame:
    """CUBE (event_type, day-of-week): all 4 grouping sets at once."""
    return (
        events.select(
            "event_type", F.dayofweek("ts").alias("dow"), "value"
        )
        .cube("event_type", "dow")
        .agg(F.round(F.sum("value"), 2).alias("total_sales"))
    )


def distinct_users_per_day(events: DataFrame) -> DataFrame:
    """Exact COUNT(DISTINCT) per day (expands to two-phase distinct
    aggregation under the hood)."""
    return events.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def value_stats_per_type(events: DataFrame) -> DataFrame:
    """Exact median/min/max per event_type (median = exact percentile;
    at 100 TB you'd switch to percentile_approx — kept exact here for
    oracle parity)."""
    return events.groupBy("event_type").agg(
        F.round(F.expr("median(value)"), 6).alias("median_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


def seasonal_daily_decompose(events: DataFrame) -> DataFrame:
    """Classical moving-average seasonal decomposition of the daily
    revenue series per event type — day_value = trend + seasonal +
    residual, the decomposition monitoring reads before calling a
    Monday dip an anomaly (daily_anomaly_scores' z-score has no
    notion of weekly shape; this is its seasonality-aware
    companion). trend = centered 7-day average (RANGE frame on
    days-since-epoch, so calendar gaps shrink the window); seasonal
    = mean detrended value per weekly phase; residual = what
    neither explains.

    The weekly phase is ``day_num % 7`` (days since epoch), not the
    engines' dayofweek(): Spark numbers Sunday=1..7, DuckDB
    Sunday=0..6 — the modulo is the same integer everywhere and the
    phase label is arbitrary for decomposition purposes.

    Scale: one corpus scan into the (type, day) aggregate; both
    windows run over the days × types frame (the trend window per
    type, the seasonal mean per (type, phase)). The daily frame is
    ``_daily_values`` — shared with daily_anomaly_scores so the
    z-screen and its seasonality-aware companion always agree on
    what a "day value" is."""
    daily = _daily_values(events)
    w_trend = (
        Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-3, 3)
    )
    t = daily.withColumn("__trend", F.avg("day_value").over(w_trend))
    t = t.withColumn("__det", F.col("day_value") - F.col("__trend"))
    w_season = Window.partitionBy("event_type", F.pmod(F.col("day_num"), F.lit(7)))
    t = t.withColumn("__seasonal", F.avg("__det").over(w_season))
    return t.select(
        "event_type",
        "d",
        "day_value",
        (F.round("__trend", 6) + 0.0).alias("trend"),
        (F.round("__seasonal", 6) + 0.0).alias("seasonal"),
        (F.round(F.col("__det") - F.col("__seasonal"), 6) + 0.0).alias(
            "residual"
        ),
    )


def robust_value_stats(events: DataFrame) -> DataFrame:
    """Median / MAD / outlier screen per event type — the robust
    twin of value_stats_per_type: outliers are values whose absolute
    deviation from the type's median exceeds 3 × MAD (median
    absolute deviation). Robust statistics resist exactly the skewed
    heavy-tail value distributions where mean/stddev screens
    (daily_anomaly_scores' z-score) stop working; MAD = 0 (at least
    half the values identical) degenerates to flagging every value
    that differs from the median — deterministic in both engines.
    Callers wanting the normal-consistent sigma multiply MAD by
    1.4826 themselves.

    Exact robust stats are inherently multi-pass: three narrow scans
    of (event_type, value) — median, MAD over deviations, then the
    outlier count with both tiny per-type tables broadcast. At
    100 TB swap the exact medians for percentile_approx and the
    passes collapse; kept exact here for oracle parity (same choice
    as value_stats_per_type). Output: (event_type, median_value,
    mad, n_outliers, n_rows)."""
    med = (
        events.groupBy("event_type")
        .agg(F.expr("median(value)").alias("__m"))
        .localCheckpoint(eager=True)
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("__m")).alias("__ad"),
        "__m",
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.expr("median(__ad)").alias("__mad"))
        .localCheckpoint(eager=True)
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.round(F.min("__m"), 6) + 0.0).alias("median_value"),
            (F.round(F.min("__mad"), 6) + 0.0).alias("mad"),
            F.sum(
                F.when(
                    F.col("__ad") > F.lit(3.0) * F.col("__mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def event_value_pivot(events: DataFrame) -> DataFrame:
    """Manual pivot (CASE-WHEN aggregation) of value by event_type per
    day — expressed as conditional aggregation so the oracle SQL is
    identical ANSI."""
    agg = [
        F.round(
            F.sum(F.when(F.col("event_type") == t, F.col("value"))), 2
        ).alias(f"{t}_value")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return events.groupBy(F.to_date("ts").alias("d")).agg(*agg)


def conversion_funnel(events: DataFrame) -> DataFrame:
    """Ordered funnel click → view → purchase: users who reached each
    stage IN ORDER (first-click before first-view before first-
    purchase). One aggregation builds the per-user stage timestamps;
    the stage counts are conditional aggregates over it."""
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    agg = per_user.agg(
        F.sum(F.col("t_click").isNotNull().cast("long")).alias("clicked"),
        F.sum(
            (F.col("t_click").isNotNull() & (F.col("t_view") > F.col("t_click")))
            .cast("long")
        ).alias("then_viewed"),
        F.sum(
            (
                F.col("t_click").isNotNull()
                & (F.col("t_view") > F.col("t_click"))
                & (F.col("t_purchase") > F.col("t_view"))
            ).cast("long")
        ).alias("then_purchased"),
    )
    return agg.selectExpr(
        "stack(3, '1_clicked', clicked, '2_then_viewed', then_viewed, "
        "'3_then_purchased', then_purchased) AS (stage, n_users)"
    )


def weekly_retention(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted in
    each subsequent week they were active. Two aggregations + one
    join — the classic retention-matrix dataflow."""
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    activity = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    joined = activity.join(first_seen, "user_id")
    return (
        joined.select(
            "user_id",
            F.floor(F.datediff("d0", F.lit("2024-01-01")) / 7).cast("int").alias(
                "cohort_week"
            ),
            F.floor(F.datediff("d", F.col("d0")) / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def cohort_ltv(events: DataFrame) -> DataFrame:
    """(cohort_week, week_offset, n_purchasers, revenue_cents,
    cum_revenue_per_cohort_user_micro) — the LTV triangle: purchase
    revenue per
    first-seen-week cohort by weeks-since-first-seen, plus the
    running per-user cumulative — the growth-accounting view next to
    ``weekly_retention``'s activity matrix (retention says who came
    back; this says what they were worth when they did).

    Same week-index convention as weekly_retention (anchored floor
    datediff/7, engine-portable integers). Cohort size counts ALL
    first-seen users (not only purchasers) so cum_revenue is true
    per-cohort-user LTV. Scale: one user-keyed aggregation for first
    seen, one (cohort, offset) aggregation of purchases joined by
    user, a cohort-sized broadcast for denominators, and a window
    over the ≤ cohorts × offsets triangle."""
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    cohort_of = F.floor(F.datediff("d0", F.lit("2024-01-01")) / 7).cast("int")
    sized = first_seen.select("user_id", cohort_of.alias("cohort_week"))
    cohort_sizes = sized.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("__n_cohort")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), "value")
        .join(first_seen, "user_id")
        .select(
            "user_id",
            cohort_of.alias("cohort_week"),
            F.floor(F.datediff("d", F.col("d0")) / 7).cast("int").alias(
                "week_offset"
            ),
            "value",
        )
    )
    # money quantizes to integer cents PER ROW before any sum, and
    # the per-user cumulative ships as integer micro-units — integer
    # addition is order-independent and integer columns hash
    # identically in every oracle-engine release
    cell = purchases.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_purchasers"),
        F.sum(micro(F.col("value"), 100)).alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_purchasers",
            "revenue_cents",
            micro(
                F.sum("revenue_cents").over(w).cast("double")
                / (F.lit(100.0) * F.col("__n_cohort"))
            ).alias("cum_revenue_per_cohort_user_micro"),
        )
    )


def purchasers_also_errored(events: DataFrame) -> DataFrame:
    """INTERSECT of user sets (set op coverage)."""
    a = events.filter(F.col("event_type") == "purchase").select("user_id")
    b = events.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


def viewers_never_purchased(events: DataFrame) -> DataFrame:
    """EXCEPT (distinct semantics, matching SQL EXCEPT) of user sets."""
    a = events.filter(F.col("event_type") == "view").select("user_id")
    b = events.filter(F.col("event_type") == "purchase").select("user_id")
    return a.subtract(b)


def daily_anomaly_scores(events: DataFrame) -> DataFrame:
    """Monitoring-style anomaly detection: each (event_type, day)'s
    revenue z-scored against its own TRAILING week (the 7 preceding
    days by VALUE — a range frame excluding the current day, so
    today's spike can't dilute its own baseline and calendar gaps
    shrink the window). z is null until two trailing days exist or
    when the trailing week is flat (variance 0) — surfacing "no
    baseline" explicitly instead of faking a score.

    Integer contract (migrated on its r09 window rotation — its own
    inline cents frame, NOT the shared rounded-double
    ``_daily_values``, whose other consumers migrate on their own
    rotations): day revenue is a per-row-cents BIGINT sum; the
    trailing stats come from EXACT integer window sums (n, Σx, Σx²
    over ≤7 BIGINT cents), so the float section below is a fixed DAG
    over exact integers — bit-identical cross-engine with the oracle
    written in the same operation order. trailing_avg ships as
    integer micro-cents via DIV (day cents are non-negative, so
    truncate == floor). Bound: Σx² stays exact while a day's cents
    < ~2^31.5 (≈ $36M/day); past that the z reverts to last-ulp
    residual risk — documented, not hidden.

    Scale: one (event_type, day) pre-aggregation with map-side
    combine (days × types rows), then a range window over that tiny
    frame — the corpus-sized events table is touched exactly once."""
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(micro(F.col("value"), 100)).alias("day_value_cents"))
    daily = daily.withColumn(
        "day_num", F.datediff("d", F.lit("1970-01-01"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-7, -1)
    )
    x = F.col("day_value_cents")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(x).over(w)
    ss = F.sum(x * x).over(w)
    pre = daily.select(
        "event_type",
        "d",
        "day_value_cents",
        n.alias("__n"),
        s.alias("__s"),
        ss.alias("__ss"),
    )
    # float DAG over exact integers, op order mirrored in the oracle:
    # mu = s/n; varnum = ss - s*mu; z = (x-mu)/sqrt(varnum/(n-1)).
    # The n>=2 AND varnum>0 guard sits OUTSIDE every division so no
    # 0/0 path exists on either engine (DuckDB orders NaN above
    # everything, so a NaN>0 guard would diverge).
    mu = F.col("__s").cast("double") / F.col("__n")
    varnum = F.col("__ss") - F.col("__s") * mu
    z = (F.col("day_value_cents") - mu) / F.sqrt(
        varnum / (F.col("__n") - 1)
    )
    return pre.select(
        "event_type",
        "d",
        "day_value_cents",
        F.expr("CAST((__s * 1000000) DIV __n AS BIGINT)").alias(
            "trailing_avg_cents_micro"
        ),
        micro(F.when((F.col("__n") >= 2) & (varnum > 0), z)).alias(
            "z_score_micro"
        ),
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM customer segmentation over purchase events: per-user
    recency (days since last purchase, anchored to the corpus's last
    purchase day so the result is a pure function of the data),
    frequency, and monetary total, each scored 1-4 against the exact
    quartile boundaries of the user population. Best = recent (small
    recency), frequent, high-spend; ``rfm`` packs the three scores
    into one sortable integer (444 = champions).

    Scale: one groupBy(user_id) over purchases; the anchor and the
    nine quartile boundaries are 1-row aggregates broadcast back —
    scoring is then a per-row expression, no global sort and no
    window. Monetary rounds to 2dp BEFORE the quantile/threshold
    math so both the thresholds and the comparisons see identical
    doubles on any engine or partitioning."""
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    anchor = per_user.agg(F.max("last_day").alias("__anchor"))
    per_user = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff("__anchor", "last_day").alias("recency_days"),
        "frequency",
        "monetary",
    )
    qs = per_user.agg(
        *[
            F.expr(f"percentile({c}, {p})").alias(f"__{c}_{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(c):
        above = sum(
            (F.col(c).cast("double") > F.col(f"__{c}_{i}")).cast("int")
            for i in (1, 2, 3)
        )
        # recency: smaller is better -> invert the bucket
        return (4 - above) if c == "recency_days" else (1 + above)

    return per_user.crossJoin(F.broadcast(qs)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        score("recency_days").alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
        (
            score("recency_days") * 100
            + score("frequency") * 10
            + score("monetary")
        ).alias("rfm"),
    )


def decayed_user_value(events: DataFrame) -> DataFrame:
    """Exponentially time-decayed purchase value per user — the
    recency-weighted feature a ranking or churn model consumes
    (yesterday's purchase counts ~2x one a week old at the default
    7-day half-life). Anchored to the corpus's latest purchase
    timestamp so the output is a pure function of the data.

    Scale: anchor is a 1-row broadcast; the decay weight is a per-row
    expression folded into one groupBy(user_id) with map-side
    combine — the events table is scanned once, nothing else
    shuffles."""
    p = events.filter(F.col("event_type") == "purchase")
    anchor = p.agg(F.max(F.expr("unix_micros(cast(ts as timestamp))")).alias("__a"))
    age_days = (F.col("__a") - F.expr("unix_micros(cast(ts as timestamp))")) / F.lit(
        86400.0 * 1e6
    )
    lam = float(math.log(2.0) / 7.0)
    return (
        p.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("raw_value"),
            F.round(F.sum(F.col("value") * F.exp(-F.lit(lam) * age_days)), 6).alias(
                "decayed_value"
            ),
        )
    )


def top_session_paths(events: DataFrame) -> DataFrame:
    """Most common session journeys: the ordered event-type path of
    each gap-based session (same sessionization as ``user_sessions``),
    truncated to 10 steps, counted across all sessions, top-k.
    The "how do users actually move through the product" view that
    transition matrices (``event_transitions``) marginalize away.

    Scale: sessions are bounded (a user's events within one gap
    horizon), so the per-session collect_list is small by
    construction and capped at 10 steps anyway; path counting is a
    hash aggregation on the path string and top-k compiles to
    TakeOrderedAndProject."""
    paths = _sessionized(events, 30).groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                10,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


def rolling_active_users(events: DataFrame) -> DataFrame:
    """DAU + trailing-WAU: per day, distinct active users that day and
    across the trailing 7 days (the growth-dashboard pair).
    Exact rolling DISTINCT — not a sum of daily counts, which
    double-counts users active on several days.

    Scale: the classic trick for exact windowed distinct without a
    per-day re-scan: reduce to distinct (user, day) first, then each
    such row contributes to 7 target days (a bounded
    explode — ×7, known at plan time), and one countDistinct per
    target day finishes it. Shuffles carry (user, day) pairs, never
    raw events; days beyond the corpus's last day are clipped so
    every reported day aggregates a full window's contributions."""
    ud = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    bounds = ud.agg(F.max("d").alias("__max_d"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("__off"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("__off")).alias("d"))
    )
    wau = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("d") <= F.col("__max_d"))
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "d").select("d", "dau", "wau")


def retention_rates(events: DataFrame) -> DataFrame:
    """The consumed form of the retention matrix: each cohort's
    week-k active count normalized by the cohort's size. Offset 0
    contains every cohort member by construction (the first-seen day
    is itself in week 0), so the denominator is the matrix's own
    offset-0 row — no separate size scan.

    Scale: weekly_retention's two aggregations plus one join against
    the cohorts-sized offset-0 slice (broadcast)."""
    m = weekly_retention(events)
    sizes = m.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("__size")
    )
    return m.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        (
            F.round(F.col("n_users") / F.col("__size"), 6) + 0.0
        ).alias("retention"),
    )


def event_type_correlations(events: DataFrame) -> DataFrame:
    """Daily co-movement matrix: Pearson correlation of the daily
    event-count series for every event-type pair (type_a < type_b) —
    the monitoring view behind "purchases and errors spike together".
    Days where either type is absent are treated as missing for that
    pair (inner join on day), not as zero — a silent outage day
    would otherwise manufacture correlation.

    Engine determinism: correlation is computed from six sums (n,
    Σx, Σy, Σxy, Σx², Σy²) combined with the identical expression in
    the oracle — not via the engines' own ``corr()``, whose
    single-pass update order differs between engines in the last
    bits. NULL when either variance term is non-positive (constant
    series carry no signal).

    Scale: the corpus-sized table is touched once by the (day, type)
    pre-aggregation (days × types rows, map-side combine); the pair
    join and the six-sum aggregate run on that tiny frame. The
    product sums accumulate in DOUBLE, not long: integer-valued
    doubles are exact below 2^53 (so bit-identical to the oracle in
    any fold order at certification scale), and beyond that they
    lose relative precision ~1e-16 GRACEFULLY — a long Σx² would
    overflow at ~2^63 (≈3 days of 2e9-events/day counts), which
    under this session's ANSI mode kills the query (and DuckDB
    would instead promote to HUGEINT): either way the monitoring
    job breaks exactly when counts get big."""
    daily = events.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(
        "d",
        F.col("event_type").alias("type_a"),
        F.col("n").cast("double").alias("x"),
    )
    b = daily.select(
        "d",
        F.col("event_type").alias("type_b"),
        F.col("n").cast("double").alias("y"),
    )
    g = (
        a.join(b, "d")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n_days").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxy = F.col("sxy")
    sxx, syy = F.col("sxx"), F.col("syy")
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    return g.select(
        "type_a",
        "type_b",
        "n_days",
        (
            F.round(
                F.when(
                    (vx > 0) & (vy > 0),
                    (nd * sxy - sx * sy) / F.sqrt(vx * vy),
                ),
                6,
            )
            + 0.0
        ).alias("corr_daily_counts"),
    )


PSI_EPS = 1e-3  # share-smoothing epsilon (shared with every PSI oracle)
PSI_BUCKETS = 10  # value buckets; the last one is open-ended
PSI_BUCKET_WIDTH = 10.0  # width of every other bucket


def value_psi_by_type(events: DataFrame) -> DataFrame:
    """(event_type, n_baseline, n_current, psi) — Population
    Stability Index of the value distribution per event type between
    the first and second half of the observed date range: the
    standard ML-monitoring drift score (psi = Σ (q−p)·ln(q/p) over
    fixed value buckets; rule of thumb <0.1 stable, >0.25 shifted).
    Completes the monitoring family: z-scores catch spikes
    (daily_anomaly_scores), MAD catches outliers
    (robust_value_stats), seasonal decomposition catches periodicity
    — PSI catches the slow distribution slide none of those flag.

    Engine-portable determinism: buckets are FIXED-width (a quantile
    binning would tie-break differently per engine), both halves'
    bucket SHARES are epsilon-smoothed (each normalized share gets
    +PSI_EPS=1e-3 — see ``psi_from_bucket_counts``) so empty buckets
    contribute a finite, identical term, and the 10-term sum is
    rounded with -0.0 normalized away. The full type × bucket grid is
    enumerated so bucket sets match exactly across engines.

    Scale: two narrow aggregations (type×bucket counts, then the
    bucket-grid join against a types-sized frame) — state is
    #types × PSI_BUCKETS regardless of event volume; the date midpoint
    is a one-row broadcast."""
    d = F.to_date("ts")
    bounds = events.agg(F.min(d).alias("dmin"), F.max(d).alias("dmax"))
    mid = F.date_add(
        F.col("dmin"), F.floor(F.datediff("dmax", "dmin") / 2).cast("int")
    )
    ev = events.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(d < mid, F.lit(1)).otherwise(F.lit(0)).alias("is_base"),
        value_bucket(F.col("value")).alias("bucket"),
    )
    counts = ev.groupBy("event_type", "bucket").agg(
        F.sum("is_base").alias("nb"),
        (F.count(F.lit(1)) - F.sum("is_base")).alias("nc"),
    )
    return psi_from_bucket_counts(counts)


def value_bucket(value: F.Column) -> F.Column:
    """The fixed-width PSI bucket index — shared by the batch split
    and the streaming monitor so both sides bin identically."""
    return (
        F.least(
            F.lit(PSI_BUCKETS - 1),
            F.greatest(F.lit(0), F.floor(value / PSI_BUCKET_WIDTH)),
        )
        .cast("int")
    )


def psi_from_bucket_counts(counts: DataFrame, key_col: str = "event_type") -> DataFrame:
    """PSI per key from a (key_col, bucket, nb, nc) count table — the
    arithmetic core shared by ``value_psi_by_type`` (one corpus,
    date-split, keyed by event_type), the streaming monitor (static
    baseline vs accumulated stream counts), and the quality-drift
    admission view (keyed by source). Enumerates the full key ×
    bucket grid, Laplace-smooths both sides, rounds once with -0.0
    normalized."""
    grid = (
        counts.select(key_col)
        .distinct()
        .select(
            key_col,
            F.explode(
                F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1))
            ).alias("bucket"),
        )
    )
    full = (
        grid.join(counts, [key_col, "bucket"], "left")
        .fillna(0, ["nb", "nc"])
    )
    tot = full.groupBy(key_col).agg(
        F.sum("nb").alias("tb"), F.sum("nc").alias("tc")
    )
    j = full.join(F.broadcast(tot), key_col)
    # share-based epsilon smoothing, NOT additive count smoothing:
    # (n + 0.5)/(total + 5) biases PSI upward whenever the two sides
    # have different sizes (a 40-vs-10 split of IDENTICAL
    # distributions scored 0.27); normalizing to shares first makes
    # identical distributions score exactly 0 at any size ratio,
    # while empty buckets still contribute finite terms.
    eps = PSI_EPS
    denom = 1.0 + PSI_BUCKETS * eps
    p = (
        F.when(F.col("tb") > 0, F.col("nb") / F.col("tb")).otherwise(
            F.lit(0.0)
        )
        + eps
    ) / denom
    q = (
        F.when(F.col("tc") > 0, F.col("nc") / F.col("tc")).otherwise(
            F.lit(0.0)
        )
        + eps
    ) / denom
    term = (q - p) * F.log(q / p)
    return (
        j.groupBy(key_col)
        .agg(
            F.max("tb").alias("n_baseline"),
            F.max("tc").alias("n_current"),
            (F.round(F.sum(term), 6) + F.lit(0.0)).alias("psi"),
        )
        .select(key_col, "n_baseline", "n_current", "psi")
    )


def ab_test_report(events: DataFrame) -> DataFrame:
    """One-row two-proportion z-test on purchase conversion between
    two user cohorts (variant = user_id % 2 — the deterministic
    fixture split standing in for an assignment column): the
    experiment-readout primitive (rates per variant, pooled z-score,
    95% verdict) every product-analytics stack ships.

    Determinism: conversion counts are integers off one per-user
    aggregation; the z-score arithmetic is a fixed expression over
    six integers, computed identically in both engines and rounded
    once. Scale: one groupBy(user_id) with map-side combine (the
    per-user frame carries two booleans), then a 2-row reduce."""
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    per_variant = per_user.groupBy(
        (F.col("user_id") % 2).cast("int").alias("variant")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    a = per_variant.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("c_a")
    )
    b = per_variant.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("c_b")
    )
    j = a.crossJoin(F.broadcast(b))
    ra = F.col("c_a") / F.col("n_a")
    rb = F.col("c_b") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    z = F.when(se > 0, (ra - rb) / se).otherwise(F.lit(0.0))
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (F.round(ra, 6) + F.lit(0.0)).alias("rate_a"),
        (F.round(rb, 6) + F.lit(0.0)).alias("rate_b"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_score"),
        (F.abs(z) > 1.959964).alias("significant_95"),
    )


def daily_changepoint(events: DataFrame) -> DataFrame:
    """(event_type, n_days, change_day, shift_stat, mean_before,
    mean_after) — at-most-one-change level-shift detection on the
    daily revenue series per event type: the CUSUM change-point
    STATISTIC D_t = S_t − (t/n)·S_n maximized over candidate split
    days (argmax = the most likely change point, |D| = its
    magnitude). Completes the monitoring set: z-scores flag single
    days, PSI flags distribution slide, seasonal decompose explains
    periodicity — this one localizes WHEN a persistent level shift
    happened.

    Pure window algebra — no recursion: one daily aggregation, a
    running cumulative sum (order-defined, so both engines compute
    the identical float sequence), the per-type total from an
    unbounded frame, and an (|D| desc, day asc) row_number pick.
    Types with a single day have no candidate split and are absent.
    At 100× the state is days × types rows — calendar-bounded."""
    daily = _daily_values(events)
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cur = (
        daily.withColumn("s_t", F.sum("day_value").over(w_run))
        .withColumn(
            "t",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day_num")
            ),
        )
        .withColumn("n_days", F.count(F.lit(1)).over(w_all))
        .withColumn("s_n", F.sum("day_value").over(w_all))
        .filter(F.col("t") < F.col("n_days"))
    )
    d_stat = F.abs(
        F.col("s_t") - F.col("t") / F.col("n_days") * F.col("s_n")
    )
    scored = cur.select(
        "event_type",
        "n_days",
        F.col("d").alias("change_day"),
        (F.round(d_stat, 6) + F.lit(0.0)).alias("shift_stat"),
        (F.round(F.col("s_t") / F.col("t"), 6) + F.lit(0.0)).alias(
            "mean_before"
        ),
        (
            F.round(
                (F.col("s_n") - F.col("s_t"))
                / (F.col("n_days") - F.col("t")),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_after"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc("shift_stat"), F.asc("change_day")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w_pick))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def rfm_migration(events: DataFrame) -> DataFrame:
    """(seg_before, seg_after, n_users) — RFM segment transition
    matrix between the first and second half of the purchase window:
    each half is scored against ITS OWN population quartiles
    (rfm_segments on the filtered events), then users join across
    halves — 'new' marks users purchasing only in the second half,
    'churned' only in the first. The user-base-shift monitor next to
    the static ``rfm_segments`` snapshot: a drift of champions (444)
    toward hibernating cells is visible here a quarter before revenue
    shows it.

    Scale: two rfm_segments passes over date-filtered purchases (each
    is one user-keyed aggregation + 1-row broadcast quantiles), one
    user-keyed full-outer join, and a segments²-bounded final count.
    The midpoint folds in as a one-row broadcast, like
    value_psi_by_type's."""
    d = F.to_date("ts")
    bounds = events.filter(F.col("event_type") == "purchase").agg(
        F.min(d).alias("__dmin"), F.max(d).alias("__dmax")
    )
    mid = F.date_add(
        F.col("__dmin"),
        F.floor(F.datediff("__dmax", "__dmin") / 2).cast("int"),
    )
    tagged = events.crossJoin(F.broadcast(bounds))
    before = tagged.filter(d < mid)
    after = tagged.filter(d >= mid)
    b = rfm_segments(before).select(
        "user_id", F.col("rfm").alias("__rfm_b")
    )
    a = rfm_segments(after).select(
        "user_id", F.col("rfm").alias("__rfm_a")
    )
    return (
        b.join(a, "user_id", "full")
        .select(
            F.coalesce(F.col("__rfm_b").cast("string"), F.lit("new")).alias(
                "seg_before"
            ),
            F.coalesce(
                F.col("__rfm_a").cast("string"), F.lit("churned")
            ).alias("seg_after"),
        )
        .groupBy("seg_before", "seg_after")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def time_of_week_profile(events: DataFrame) -> DataFrame:
    """(dow, hour, n_events, avg_value_micro) — the day-of-week × hour
    activity heatmap: the time-of-week seasonality profile ops teams
    read before alerting thresholds ("Monday 9am is always 3× Sunday
    3am") and that seasonal_daily_decompose's weekly phase assumes.
    dow is ISO (1=Monday); hour is the event's UTC hour (the session
    timezone is pinned UTC, so both engines bucket identically).
    avg_value ships as integer micro-units (the COVERAGE.md "Oracle
    encoding rule": rounded-double finals drift across oracle-engine
    releases).

    ACCEPTED RESIDUAL (r08 ADVICE class, documented per its advice):
    micro(AVG(value)) over fractional doubles rides the partial-sum
    order; this query is r06-certified and queued to migrate to the
    per-row-micro integer mean when its staleness rotation brings it
    into a verify window (COVERAGE.md migration queue).

    Scale: one aggregation into at most 7 × 24 groups with map-side
    combine — a fixed-size output regardless of event volume."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.groupBy(
            F.dayofweek(ts).alias("__dw"), F.hour(ts).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            micro(F.avg("value")).alias("avg_value_micro"),
        )
        .select(
            # Spark dayofweek: 1=Sunday; shift to ISO 1=Monday
            F.pmod(F.col("__dw") + 5, F.lit(7)).cast("int").alias("dow"),
            "hour",
            "n_events",
            "avg_value_micro",
        )
        .withColumn("dow", F.col("dow") + 1)
    )


def user_lifecycle_stages(events: DataFrame) -> DataFrame:
    """(stage, n_users) — rule-based lifecycle segmentation by recency
    against the corpus horizon: 'new' (first seen within
    7 days), 'active' (seen within 7 days but not
    new), 'at_risk' (quiet 8..21 days),
    'churned' (quieter than 21 days). The coarse operational
    complement to the quartile-scored ``rfm_segments`` — thresholds a
    human set, so the stages mean the same thing week over week
    (quartiles move with the population).

    Scale: one user-keyed min/max aggregation, the horizon as a 1-row
    broadcast, a 4-row output."""
    d = F.to_date("ts")
    per_user = events.groupBy("user_id").agg(
        F.min(d).alias("first_d"), F.max(d).alias("last_d")
    )
    horizon = events.agg(F.max(d).alias("max_d"))
    u = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff("max_d", "last_d").alias("since_last"),
        F.datediff("max_d", "first_d").alias("since_first"),
    )
    stage = (
        F.when(F.col("since_first") <= 7, F.lit("new"))
        .when(F.col("since_last") <= 7, F.lit("active"))
        .when(F.col("since_last") <= 21, F.lit("at_risk"))
        .otherwise(F.lit("churned"))
    )
    return u.groupBy(stage.alias("stage")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


def pareto_revenue_share(events: DataFrame) -> DataFrame:
    """(top_pct, threshold_value_micro, n_users, revenue_cents,
    revenue_share_micro) — revenue concentration: how much purchase
    revenue the top 1/5/10/20/50% of spenders carry (the "whales"
    report; 80/20 checks, LTV risk, and the denominator for any
    per-user cap proposal).

    "Top X%" is defined by the exact per-user-total percentile
    threshold (ties INCLUDE everyone at the threshold — deterministic
    and identical in both engines), not by a global rank — so the
    plan needs no corpus-wide sort: one user-keyed aggregation, ONE
    exact-percentile one-row broadcast, then conditional sums over
    the per-user frame. Money quantizes to integer cents PER ROW
    before any sum (order-independent addition), thresholds
    interpolate over those exact integers, and every fractional
    output ships as integer micro-units (threshold in micro-dollars =
    cents·10⁴) — the COVERAGE.md encoding rule."""
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(micro(F.col("value"), 100)).alias("spend_cents"))
    )
    pcts = [1, 5, 10, 20, 50]
    qs = per_user.agg(
        F.sum("spend_cents").alias("__total"),
        *[
            F.expr(
                f"percentile(spend_cents, {1.0 - p / 100.0})"
            ).alias(f"__t{p}")
            for p in pcts
        ],
    )
    u = per_user.crossJoin(F.broadcast(qs))
    aggs = []
    for p in pcts:
        inc = F.col("spend_cents") >= F.col(f"__t{p}")
        aggs.append(F.sum(inc.cast("long")).alias(f"__n{p}"))
        aggs.append(
            F.sum(
                F.when(inc, F.col("spend_cents")).otherwise(F.lit(0))
            ).alias(f"__r{p}")
        )
        aggs.append(F.max(F.col(f"__t{p}")).alias(f"__thr{p}"))
        aggs.append(F.max("__total").alias(f"__tot{p}"))
    one = u.agg(*aggs)
    stack = ", ".join(
        f"{p}, CAST(FLOOR(__thr{p} * 10000 + 0.5) AS BIGINT), __n{p},"
        f" __r{p},"
        f" CAST(FLOOR(CAST(__r{p} AS DOUBLE) / __tot{p} * 1000000 + 0.5)"
        f" AS BIGINT)"
        for p in pcts
    )
    return one.selectExpr(
        f"stack({len(pcts)}, {stack}) AS "
        "(top_pct, threshold_value_micro, n_users, revenue_cents,"
        " revenue_share_micro)"
    )


# Benford first-digit probabilities log10(1 + 1/d), hardcoded to the
# exact double literals BOTH engines compare against — computing
# log10 at runtime would let a last-ulp libm difference into the
# deviation column (the encoding rule's libm discipline)
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def digit_counts(events: DataFrame) -> DataFrame:
    """(event_type, digit, n) — first-significant-digit counts of the
    money column, the reduction under the batch Benford screen:
    counts sum, so the aggregation has map-side combine and its
    output is capped at #types × 9 rows."""
    cents = F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5)).cast("long")
    return (
        events.filter(F.col("value") != 0)
        .select(
            "event_type",
            F.substring(cents.cast("string"), 1, 1).cast("int").alias(
                "digit"
            ),
        )
        .filter(F.col("digit") >= 1)
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def benford_from_digit_counts(counts: DataFrame) -> DataFrame:
    """The Benford arithmetic core over a (event_type, digit, n)
    table — shared by batch and streaming so the two monitors cannot
    disagree on what a deviation means. Every derived frame re-keys
    through fresh aliases (et / bdigit / tt_et) so the type grid and
    totals can join back to the SAME input relation (a streaming
    memory-sink table included) without conflicting attribute ids."""
    from ..functions.portable import micro

    spark = counts.sparkSession
    ben = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P.items()], "bdigit int, p double"
    )
    types = counts.select(F.col("event_type").alias("et")).distinct()
    grid = types.crossJoin(F.broadcast(ben))
    totals = counts.groupBy(
        F.col("event_type").alias("tt_et")
    ).agg(F.sum("n").alias("__tot"))
    filled = (
        grid.join(
            counts,
            (F.col("et") == F.col("event_type"))
            & (F.col("bdigit") == F.col("digit")),
            "left",
        )
        .join(F.broadcast(totals), F.col("et") == F.col("tt_et"))
        .select(
            F.col("et"),
            F.col("bdigit"),
            F.coalesce("n", F.lit(0)).alias("__n"),
            (
                F.coalesce("n", F.lit(0)).cast("double") / F.col("__tot")
            ).alias("__share"),
            F.col("p").alias("__ben"),
        )
    )
    return filled.select(
        F.col("et").alias("event_type"),
        F.col("bdigit").alias("digit"),
        F.col("__n").alias("n"),
        micro(F.col("__share")).alias("share_micro"),
        micro(F.col("__ben")).alias("benford_micro"),
        micro(F.abs(F.col("__share") - F.col("__ben"))).alias("dev_micro"),
    )


def value_benford_by_type(events: DataFrame) -> DataFrame:
    """(event_type, digit, n, share_micro, benford_micro, dev_micro)
    — first-significant-digit distribution of the money column per
    event type against Benford's law: the classic fabricated-data /
    broken-generator screen (hand-entered or templated amounts pile
    onto favorite leading digits; organic multiplicative amounts
    follow log10(1+1/d)).

    Determinism: the first digit comes from the INTEGER cents string
    (floor(v·100 + 0.5), the money convention) — never from
    floor(log10(v)), whose last-ulp libm noise flips the digit when
    v sits at a power-of-ten boundary (0.1's nearest double logs to
    just under −1). Benford targets are hardcoded double literals;
    shares and deviations ship as integer micro-units.

    Scale: one scan → a #types × 9 aggregation with map-side
    combine; the digit grid is enumerated so absent digits emit
    explicit zero rows (a digit NEVER hit is itself the signal).
    Composition of ``digit_counts`` and ``benford_from_digit_counts``."""
    return benford_from_digit_counts(digit_counts(events))


def value_ks_by_type(events: DataFrame) -> DataFrame:
    """(event_type, n_baseline, n_current, d_stat_micro) — exact
    two-sample Kolmogorov-Smirnov D between each event type's value
    distribution in the FIRST half of the date range (baseline) and
    the second half (current): the unbinned companion to
    ``value_psi_by_type``, exactly as ``quality_ks_by_source``
    complements the quality PSI — a shift that hides inside one
    fixed-width PSI bucket still moves the ECDF sup-norm. Same
    midpoint split convention as the PSI monitor, so the two
    monitors read the same calendar.

    Determinism: values land on the integer cents grid first (the
    money convention), so step points and cumulative counts are
    integer-derived; D ships micro. Scale: one scan → per
    (type, cents) split counts with map-side combine; cumsums window
    per type over that type's distinct cents — state bounded by the
    value domain's cents grid, never by event volume."""
    from ..functions.portable import micro

    d = F.to_date("ts")
    bounds = events.agg(
        F.min(d).alias("__dmin"), F.max(d).alias("__dmax")
    )
    mid = F.date_add(
        F.col("__dmin"),
        F.floor(F.datediff("__dmax", "__dmin") / 2).cast("int"),
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    tagged = events.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        cents.alias("cents"),
        (d < mid).cast("long").alias("__is_base"),
    )
    counts = tagged.groupBy("event_type", "cents").agg(
        F.sum("__is_base").alias("nb"),
        (F.count(F.lit(1)) - F.sum("__is_base")).alias("nc"),
    )
    return ks_report_from_split_counts(counts)


def ks_report_from_split_counts(counts: DataFrame) -> DataFrame:
    """The KS arithmetic core over an already-aggregated
    (event_type, cents, nb, nc) split-count table, as built by
    ``value_ks_by_type`` (batch midpoint split). The input table is
    value-grid-bounded (types × distinct cents), never event-volume-
    bounded — per-call cost is tiny by construction."""
    totals = counts.groupBy("event_type").agg(
        F.sum("nb").alias("tb"), F.sum("nc").alias("tc")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # one-sided types (all events in a single half) guard to 0.0 on
    # the empty side — D then climbs to exactly 1 at the last step,
    # identically in both engines (never a division by zero)
    ecdf_b = F.when(
        F.col("tb") > 0, F.sum("nb").over(w).cast("double") / F.col("tb")
    ).otherwise(F.lit(0.0))
    ecdf_c = F.when(
        F.col("tc") > 0, F.sum("nc").over(w).cast("double") / F.col("tc")
    ).otherwise(F.lit(0.0))
    diff = F.abs(ecdf_b - ecdf_c)
    return (
        counts.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            F.col("tb").alias("n_baseline"),
            F.col("tc").alias("n_current"),
            diff.alias("__d"),
        )
        .groupBy("event_type", "n_baseline", "n_current")
        .agg(
            F.floor(F.max("__d") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("d_stat_micro")
        )
    )
