"""Streaming KPI + session_window tests via a rate/file micro-batch
into memory sinks."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.kpis_stream import (
    streaming_sessions,
    windowed_kpis,
)


def _stream_from_rows(spark, tmp_path, rows):
    src = tmp_path / "stream-src"
    src.mkdir()
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "p"))
    return spark.readStream.schema(df.schema).parquet(str(src / "p"))


def _rows():
    base = dt.datetime(2025, 9, 1, 0, 30)
    return [
        Row(ts=base, user_id="u1", event_type="page_view", value=None),
        Row(ts=base + dt.timedelta(minutes=5), user_id="u1", event_type="purchase", value=20.0),
        Row(ts=base + dt.timedelta(hours=2), user_id="u1", event_type="view", value=None),
        Row(ts=base + dt.timedelta(hours=2, minutes=10), user_id="u2", event_type="purchase", value=5.5),
    ]


def test_windowed_kpis_stream(spark, tmp_path):
    stream = _stream_from_rows(spark, tmp_path, _rows())
    out = windowed_kpis(stream, window="1 hour", watermark="1 day",
                        ts_col="ts", user="user_id", etype="event_type", price="value")
    q = (
        out.writeStream.format("memory")
        .queryName("kpi_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["window_start"]: r.asDict() for r in spark.sql("SELECT * FROM kpi_win").collect()}
    w0 = rows[dt.datetime(2025, 9, 1, 0, 0)]
    assert w0["total_events"] == 2 and w0["purchases"] == 1 and w0["revenue_usd"] == 20.0
    w2 = rows[dt.datetime(2025, 9, 1, 2, 0)]
    assert w2["total_events"] == 2 and w2["unique_users"] == 2 and w2["revenue_usd"] == 5.5


def test_streaming_sessions(spark, tmp_path):
    stream = _stream_from_rows(spark, tmp_path, _rows())
    out = streaming_sessions(stream, gap="30 minutes", watermark="1 day",
                             ts_col="ts", user="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions").collect()
    # u1: two events 5min apart -> one session; +2h -> second session. u2: one.
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user["u1"]) == 2
    assert len(per_user["u2"]) == 1
    assert sum(r["n_events"] for r in per_user["u1"]) == 3


def test_daily_window_equals_batch_daily_kpis(spark, tmp_path):
    """A 1-day ``windowed_kpis`` stream and the batch
    ``daily_kpis(..., approx_distinct=True)`` are one aggregation: equal
    in every column on the same rows."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.kpis import (
        daily_kpis,
    )

    types = ["page_view", "PURCHASE", "view", "checkout", None, "click"]
    rows = [
        Row(
            ts=dt.datetime(2025, 9, 1 + i % 3, i % 24, i % 60),
            user_id=f"u{i % 11}" if i % 13 else None,
            session_id=f"s{i % 17}",
            event_type=types[i % len(types)],
            value=None if i % 4 == 0 else round(0.01 * i + 0.005, 3),
        )
        for i in range(90)
    ]
    kw = dict(user="user_id", etype="event_type", price="value", session="session_id")
    q = (
        windowed_kpis(_stream_from_rows(spark, tmp_path, rows), **kw)
        .writeStream.format("memory")
        .queryName("kpi_day")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {
        r["d"]: r.asDict()
        for r in spark.sql(
            "SELECT CAST(window_start AS DATE) AS d, * FROM kpi_day"
        ).collect()
    }
    batch = {
        r["dt"]: r.asDict()
        for r in daily_kpis(
            spark.createDataFrame(rows), approx_distinct=True, **kw
        ).collect()
    }
    assert len(batch) == 3 and stream.keys() == batch.keys()
    cols = [
        "total_events", "unique_users", "unique_sessions",
        "pageviews", "purchases", "revenue_usd",
    ]
    for day, b in batch.items():
        assert [stream[day][c] for c in cols] == [b[c] for c in cols], day
