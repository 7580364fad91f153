"""Streaming maintenance of the daily HLL sketch zone — the
incremental half of ``queries/sketch_q.py::hll_range_distinct``.

Batch rebuilds of a distinct-users rollup re-scan raw events for every
day in the range; this stream keeps ONE HyperLogLog sketch per day
up to date as events arrive, so any later range-distinct question is a
merge over O(days) kilobyte-sized sketch rows instead of an O(events)
re-scan. That is the pattern the reference's daily KPI job
(daily_kpis.py:109-140) would need at warehouse scale, where
``unique_users`` over a quarter cannot afford to touch raw data.

Replay safety: the streaming aggregation state holds the CUMULATIVE
per-day sketch; update-mode emissions are the latest state for each
touched day, and the sink overwrites exactly that day's partition
(dynamic partition overwrite). A replayed micro-batch rewrites the same
partitions with the same registers — HLL union is register-wise max,
so the zone is idempotent under at-least-once delivery end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from .upsert import start_partition_upsert

# lg_k PINNED TO 12 — the DataSketches union gadget's default lgMaxK,
# which Spark's hll_union_agg does not widen (plan signature
# hll_union_agg(sk, false, 0, 0)): every merge DOWNSIZES its inputs to
# lg_k 12, so sketching finer buys nothing after the first union and,
# measured (r9 10x soak), makes DENSE merged estimates depend on the
# merge GROUPING (2-way vs 3-way splits of 4000 keys: 3987 vs 3996 at
# lg_k 14, both 3987 at 12 — the 10x crash soak is grouping-stable at
# 12, docs/SOAK_10X.json).
#
# What NO lg_k buys: bit-exact replay determinism of the ESTIMATE.
# Near sparse->dense promotion the estimate can wiggle within error
# with the merge path even at lg_k 12 (measured: a crash/restart at
# 400 keys/day flipped two days 400 -> 399/401; the same schedule at
# lg_k 20 — deep-sparse, exact — returns 400 everywhere, proving the
# registersets lose NOTHING: it is estimator wiggle, not data). A
# one-shot batch sketch additionally differs from any merged sketch
# once dense (HIP vs composite estimator — union abandons the HIP
# accumulator). The zone's contract is therefore: day SET exact,
# per-day estimate within the lg_k error bound under ANY batching,
# crash schedule, or rebuild — what the crash soak asserts.
SKETCH_LG_K = 12


def start_sketch_zone(
    stream_events: DataFrame,
    zone_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "1 day",
) -> StreamingQuery:
    """Watermarked per-day sketch aggregation -> day-partitioned zone
    upsert (``upsert.start_partition_upsert``: the day is the group key,
    so one state partition). Late events inside the watermark re-emit
    their day's cumulative sketch and overwrite that single partition."""
    daily = (
        stream_events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("w"))
        .agg(F.hll_sketch_agg(key_col, F.lit(SKETCH_LG_K)).alias("sk"))
        .select(
            F.to_date("w.start").cast("string").alias("dt"),
            "sk",
        )
    )

    return start_partition_upsert(daily, zone_dir, checkpoint_dir, partition_col="dt")


def range_distinct_from_zone(
    spark: SparkSession, zone_dir: str, start_dt: str, end_dt: str
) -> DataFrame:
    """Serve ``COUNT(DISTINCT key)`` over [start_dt, end_dt] from the
    sketch zone: partition-pruned scan of O(days) rows, one
    ``hll_union_agg`` merge, no raw-event access. Returns one row:
    (n_days, est_distinct)."""
    zone = spark.read.parquet(zone_dir)
    return (
        zone.where((F.col("dt") >= start_dt) & (F.col("dt") <= end_dt))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "est_distinct"
            ),
        )
    )
