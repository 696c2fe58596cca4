"""Customer value on crafted rows: exponentially decayed purchase
value and RFM quartile segments (plans/analytics.py)."""

from __future__ import annotations


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
