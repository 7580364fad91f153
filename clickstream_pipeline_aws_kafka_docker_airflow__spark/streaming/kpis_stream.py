"""Streaming KPI aggregation — the continuous variant of the daily
batch job (``daily_kpis.py:109-140``).

Semantic difference, documented per SURVEY.md §2.4
(stream_late_data_policy): the reference has no watermark anywhere —
late-data correctness comes from re-running the whole day (Airflow
``catchup=True``). Streaming state cannot be unbounded, so this variant
admits late data up to ``watermark`` and emits per-window updates;
events later than the watermark are the re-run batch job's business.

``unique_users``/``unique_sessions`` use ``approx_count_distinct``
(HLL): exact distinct over an unbounded stream would keep one hash set
per window forever — the same unbounded Python ``set``s the reference
holds in memory (daily_kpis.py:111), which is exactly what doesn't
scale. The batch job remains the exact-count source of truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.kpis import kpi_aggs


def windowed_kpis(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    user: str = "user_id",
    etype: str = "event_type",
    price: str = "value",
    session: str | None = None,
) -> DataFrame:
    """Event-time tumbling-window KPIs with a late-data watermark: the
    batch aggregates of ``operators/kpis.kpi_aggs`` with HLL distincts,
    grouped by window instead of by day."""
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            *kpi_aggs(user, etype, price, session, approx_distinct=True)
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *agg.columns[1:],
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via the built-in ``session_window`` —
    the stateful twin of the batch lag/cumsum operator
    (queries/events_q.py::sessionize_30min)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(user))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
