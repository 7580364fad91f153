"""Streaming event-rate anomaly monitor: watermarked hourly counts
maintained in an hour-partitioned history zone, with the SAME integer
trailing-z test as the batch query (operators/anomaly.py) re-scored
over the series each micro-batch.

Shape: the stream updates only the hours each micro-batch touches
(dynamic partition overwrite keyed on the hour — replays rewrite the
same partitions, so the history zone is exactly-once); scoring then
reads the whole HISTORY SERIES — one row per hour, so "recompute all
flags" is a series-sized job regardless of event volume, which keeps
the semantics identical to the batch oracle instead of approximating
them with incremental state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.anomaly import trailing_z_flags
from .upsert import overwrite_partitions, start_partition_keyed


def _history_zone(out_dir: str) -> str:
    return f"{out_dir}/hourly"


def _flags_zone(out_dir: str) -> str:
    return f"{out_dir}/flags"


def start_anomaly_monitor(
    stream_events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked streaming aggregation -> per-hour history upsert ->
    full-series re-score. Late events inside the watermark update their
    hour's partition and the affected flags on the next batch."""
    hourly = (
        stream_events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.to_date("w.start").cast("string").alias("dt"),
            F.hour("w.start").cast("bigint").alias("hh"),
            "c",
        )
    )

    def _upsert_and_score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        overwrite_partitions(
            batch_df.withColumn("hour_key", F.concat_ws("-", "dt", "hh")),
            _history_zone(out_dir),
            "hour_key",
        )
        spark = batch_df.sparkSession
        history = (
            spark.read.parquet(_history_zone(out_dir))
            .select("dt", "hh", "c")
        )
        flags = trailing_z_flags(history)
        flags.repartition(1).write.mode("overwrite").parquet(
            _flags_zone(out_dir)
        )

    # the hour is the group key: one state partition (streaming/upsert.py)
    return start_partition_keyed(hourly, _upsert_and_score, checkpoint_dir)


def load_flags(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(_flags_zone(out_dir))
