"""Continuous aggregate: the materialized-head + live-tail union must
equal the full batch rollup for any bucket-aligned threshold, and the
threshold must be forcibly bucket-aligned so no bucket is split."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ecommerce_spark import catalog
from flink_ecommerce_spark.plans.rollup import (
    rollup_with_tail,
    time_bucket_rollup,
)

from tests.conftest import SF_SMALL


def _as_dict(df):
    return {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in df.collect()
    }


def test_rollup_with_tail_equals_full_rollup(spark):
    events = catalog.table(spark, SF_SMALL, "events")
    full = _as_dict(time_bucket_rollup(events))
    assert len(full) > 10

    # pick a threshold strictly inside the data's time range
    lo, hi = events.agg(
        F.min(F.col("ts").cast("timestamp")), F.max(F.col("ts").cast("timestamp"))
    ).collect()[0]
    mid = lo + (hi - lo) / 2

    # "materialize" the head the way a streaming/batch maintainer
    # would: rollup of the full table, kept only below the threshold
    # by rollup_with_tail's own filter
    materialized = time_bucket_rollup(events)
    combined = _as_dict(rollup_with_tail(materialized, events, mid))
    assert combined == full


def test_rollup_threshold_is_bucket_aligned(spark):
    """A mid-bucket threshold must not split a bucket: the same union
    stays exact even when the caller passes a ragged timestamp,
    because the threshold floors to the bucket boundary."""
    events = catalog.table(spark, SF_SMALL, "events")
    full = _as_dict(time_bucket_rollup(events))
    lo, hi = events.agg(
        F.min(F.col("ts").cast("timestamp")), F.max(F.col("ts").cast("timestamp"))
    ).collect()[0]
    import datetime

    ragged = lo + (hi - lo) / 2
    ragged = ragged.replace(minute=37, second=13)  # not a bucket edge
    materialized = time_bucket_rollup(events)
    combined = _as_dict(rollup_with_tail(materialized, events, ragged))
    assert combined == full


def test_rollup_tail_only_scans_past_threshold(spark):
    """The live side's filter must reach the scan: with the threshold
    at max(ts), the tail aggregates (almost) nothing and the plan
    carries the pushed ts predicate."""
    events = catalog.table(spark, SF_SMALL, "events")
    materialized = time_bucket_rollup(events)
    lo, hi = events.agg(
        F.min(F.col("ts").cast("timestamp")), F.max(F.col("ts").cast("timestamp"))
    ).collect()[0]
    out = rollup_with_tail(materialized, events, hi)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # still exact at the extreme threshold
    assert _as_dict(out) == _as_dict(time_bucket_rollup(events))


def test_streaming_maintenance_converges_to_batch_rollup(spark, tmp_path):
    """The materialized side of the continuous aggregate is maintained
    by a streaming aggregation in update mode landing in a keyed
    upsert sink: replaying events through it must end with exactly
    the batch rollup's state — which is what rollup_with_tail assumes
    of its `materialized` input."""
    from flink_ecommerce_spark.sources import generator
    from flink_ecommerce_spark.sources.kafka import parse_transactions
    from flink_ecommerce_spark.streaming.sinks import MemoryUpsertSink

    path = str(tmp_path / "txn_json")
    df = generator.transactions(spark, n_rows=1500, seed=11)
    generator.transactions_as_json(df).coalesce(3).write.mode("overwrite").text(path)

    def rollup_plan(src):
        return time_bucket_rollup(
            src, bucket="1 hour", ts_col="transactionDate",
            key_col="productCategory", value_col="totalAmount",
        )

    stream = parse_transactions(spark.readStream.format("text").load(path))
    sink = MemoryUpsertSink(("bucket_start", "productCategory"))
    query = (
        rollup_plan(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    query.processAllAvailable()
    query.stop()

    batch = rollup_plan(parse_transactions(spark.read.text(path)))
    expected = {
        (r["bucket_start"], r["productCategory"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    got = {
        (r["bucket_start"], r["productCategory"]): (r["n_events"], r["total_value"])
        for r in sink.rows()
    }
    assert got == expected and len(got) > 0


def _floor_val(spark, v, bucket="1 hour"):
    from flink_ecommerce_spark.plans.rollup import bucket_floor

    return (
        spark.range(1)
        .select(bucket_floor(F.lit(v).cast("timestamp"), bucket).alias("t"))
        .collect()[0]["t"]
    )


def test_refresh_rollup_advances_threshold_exactly(spark):
    from flink_ecommerce_spark.plans.rollup import refresh_rollup

    ev = catalog.table(spark, SF_SMALL, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = hi - lo
    t1 = lo + span / 3
    t2 = lo + 2 * span / 3
    # materialize everything before t1, then refresh [t1, t2)
    mat = time_bucket_rollup(
        ev.filter(F.col("ts") < F.lit(t1).cast("timestamp"))
    )
    refreshed = refresh_rollup(mat, ev, t1, t2)
    # ground truth: full rollup restricted to buckets before t2
    t2f = _floor_val(spark, t2)
    full = time_bucket_rollup(ev).filter(F.col("bucket_start") < F.lit(t2f))
    assert _as_dict(
        refreshed.filter(F.col("bucket_start") < F.lit(t2f))
    ) == _as_dict(full)


def test_refresh_rollup_old_window_folds_in_late_data(spark):
    from flink_ecommerce_spark.plans.rollup import refresh_rollup

    ev = catalog.table(spark, SF_SMALL, "events").limit(500).cache()
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    early = ev.filter(F.col("ts") < F.lit(mid).cast("timestamp"))
    # initial materialization misses half the early rows ("late data")
    on_time = early.filter(F.col("event_id") % 2 == 0)
    mat = time_bucket_rollup(on_time)
    # re-refreshing the OLD window against the complete raw table
    # replaces those buckets with the true totals
    healed = refresh_rollup(mat, ev, lo, mid)
    w_lo = F.lit(_floor_val(spark, lo))
    w_hi = F.lit(_floor_val(spark, mid))
    healed_w = healed.filter(
        (F.col("bucket_start") >= w_lo) & (F.col("bucket_start") < w_hi)
    )
    truth_w = time_bucket_rollup(ev).filter(
        (F.col("bucket_start") >= w_lo) & (F.col("bucket_start") < w_hi)
    )
    assert _as_dict(healed_w) == _as_dict(truth_w)


def test_decayed_user_value_halves_per_half_life(spark):
    import datetime as dt

    from flink_ecommerce_spark.plans.analytics import decayed_user_value

    t0 = dt.datetime(2024, 1, 15, 0, 0, 0)
    rows = [
        # u1: 100 at the anchor, 100 exactly one half-life earlier
        (1, t0, 1, "purchase", 100.0, "{}"),
        (2, t0 - dt.timedelta(days=7), 1, "purchase", 100.0, "{}"),
        # u2: a single anchor-time purchase (weight exactly 1)
        (3, t0, 2, "purchase", 40.0, "{}"),
        # noise: non-purchase events must not contribute
        (4, t0, 1, "click", 999.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["user_id"]: r for r in decayed_user_value(ev).collect()}
    assert got[1]["raw_value"] == 200.0
    assert got[1]["decayed_value"] == 150.0  # 100 + 100 * 0.5
    assert got[2]["decayed_value"] == 40.0
    assert got[1]["n_purchases"] == 2


def test_rfm_segments_orders_scores_correctly(spark):
    import datetime as dt

    from flink_ecommerce_spark.plans.analytics import rfm_segments

    t0 = dt.datetime(2024, 1, 15, 0, 0, 0)
    rows = []
    eid = 0
    # user u: u purchases of 10, last purchase (20 - u) days before t0
    # -> user 8 is most recent, most frequent, highest-spend
    for u in range(1, 9):
        for j in range(u):
            eid += 1
            rows.append(
                (eid, t0 - dt.timedelta(days=20 - u, hours=j + 1), u,
                 "purchase", 10.0, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["user_id"]: r for r in rfm_segments(ev).collect()}
    assert got[8]["rfm"] == 444  # best on all three axes
    assert got[1]["rfm"] == 111  # worst on all three axes
    # monotone: more purchases can never lower any score
    for u in range(1, 8):
        assert got[u + 1]["r_score"] >= got[u]["r_score"]
        assert got[u + 1]["f_score"] >= got[u]["f_score"]
        assert got[u + 1]["m_score"] >= got[u]["m_score"]
