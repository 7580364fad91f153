"""Distributional tests of the synthetic event generator against the
reference producer's parameters (produce_events.py:12-45)."""

from __future__ import annotations

from clickstream_pipeline_aws_kafka_docker_airflow__spark.sources.generator import (
    EVENT_TYPES,
    generate_events_batch,
)


def test_generator_schema_and_distributions(spark):
    n = 20_000
    df = generate_events_batch(spark, n, start_date="2025-09-01", days=7).cache()
    assert df.count() == n
    assert df.columns == [
        "event_ts", "user_id", "session_id", "event_type", "page",
        "product_id", "price", "currency", "referrer", "user_agent",
    ]
    rows = df.collect()
    # weighted event types within 3 sigma of 0.75/0.15/0.07/0.03
    from collections import Counter

    c = Counter(r["event_type"] for r in rows)
    assert set(c) <= set(EVENT_TYPES)
    for etype, w in zip(EVENT_TYPES, (0.75, 0.15, 0.07, 0.03)):
        sigma = (w * (1 - w) / n) ** 0.5
        assert abs(c[etype] / n - w) < 4 * sigma, (etype, c[etype] / n)
    # price only on purchases, in [5,120], 2dp
    for r in rows:
        if r["event_type"] == "purchase":
            assert r["price"] is not None and 5 <= r["price"] <= 120
            assert round(r["price"], 2) == r["price"]
        else:
            assert r["price"] is None
    # timestamps evenly spaced across the window, ISO-8601 Z strings
    assert rows[0]["event_ts"].endswith("Z")
    days = {r["event_ts"][:10] for r in rows}
    assert days == {f"2025-09-0{d}" for d in range(1, 8)}
    # session_id degenerate per-event UUID (produce_events.py:37)
    assert len({r["session_id"] for r in rows}) == n
    df.unpersist()


def test_generator_feeds_kpis(spark):
    """The generated stream round-trips through the KPI operator."""
    from pyspark.sql import functions as F

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.kpis import (
        daily_kpis,
    )

    df = generate_events_batch(spark, 5000, start_date="2025-09-01", days=2)
    parsed = df.withColumn("ts", F.to_timestamp("event_ts"))
    out = daily_kpis(
        parsed, ts="ts", user="user_id", session="session_id",
        etype="event_type", price="price",
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r["pageviews"] > 0 and r["purchases"] > 0
        assert r["unique_sessions"] == r["total_events"]  # degenerate sessions
