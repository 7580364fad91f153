"""foreachBatch upsert sink: per-micro-batch dynamic partition
overwrite — the streaming path into a partitioned serving zone when the
aggregation itself must stay in complete/update mode.

Shape: windowed KPIs stream -> each micro-batch recomputes only the
windows it touched -> overwrite exactly those day partitions. Replays
of a batch rewrite the same partitions with the same content, so the
sink is idempotent (exactly-once effect on top of at-least-once batch
delivery).

Two granularities, chosen by ``keys``:

* ``keys=None`` — partition-replace. CORRECT ONLY when one aggregation
  group maps to exactly one partition (partition_col IS the full group
  key, e.g. daily KPIs partitioned by day). Update mode emits only the
  CHANGED groups; if a partition holds several groups, replacing the
  whole partition with one changed group would silently delete its
  siblings — which is why the merge path below exists.
* ``keys=[...]`` — key-level merge. The affected partitions are
  re-read, rows whose group key is being re-emitted are anti-joined
  away, survivors union with the new rows, and the partition is
  rewritten. Safe for partition_col coarser than the group key
  (e.g. hourly windows partitioned by day). Still replay-idempotent:
  a replayed batch re-emits identical rows, the anti-join removes the
  identical previous copies, and the rewrite reproduces byte-identical
  content.

State partitions: a stateful query gets ``spark.sql.shuffle.partitions``
state stores, and every micro-batch loads, commits and snapshots each
one, empty or not. When the group key IS the zone partition, the
watermark keeps one or two keys live (a day window under a 1-day
watermark), so ``start_partition_keyed`` starts such streams with ONE
state partition: the partition-replace path, the sketch zone and the
anomaly monitor. The merge path's key is finer than the partition; it
keeps the session's count. The checkpoint's offset log pins the count,
so an existing checkpoint keeps its own; re-sizing a zone means a fresh
checkpoint (the upsert is replay-idempotent, so replaying the source
rewrites the same partitions with the same content).

Measured and rejected: also turning off no-data micro-batches. Under
AvailableNow each run restarts from the offset log and only the no-data
batch commits the advanced watermark, so the watermark froze across
runs and late-day repair broke (``test_run_sketch_backfill_repairs_late_day``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..session import temp_confs
from .release import checkpoint_release_scope


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Replace exactly the ``partition_col`` partitions present in
    ``df`` under ``path`` (dynamic partition overwrite); every other
    partition is left as it is."""
    with temp_confs(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        df.write.partitionBy(partition_col).mode("overwrite").parquet(path)


def foreach_batch_writer(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str,
) -> DataStreamWriter:
    """The AvailableNow ``foreachBatch`` writer every zone stream
    starts: drain what the source holds, then stop."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def start_partition_keyed(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start an update-mode AvailableNow foreachBatch stream whose
    group key is the zone partition, with one state partition (see
    module docstring). The stream clones its session inside
    ``start()``, so the conf is scoped to that call and the caller's
    session is left unchanged."""
    with temp_confs(
        stream_df.sparkSession, {"spark.sql.shuffle.partitions": "1"}
    ):
        return foreach_batch_writer(
            stream_df, batch_fn, checkpoint_dir, "update"
        ).start()


def start_partition_upsert(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_col: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    keys: list[str] | None = None,
) -> StreamingQuery:
    """Write a streaming aggregate into ``path`` replacing only the
    partitions present in each micro-batch (see module docstring for
    the ``keys`` contract)."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        if out.isEmpty():
            return
        spark = out.sparkSession
        # batch-local localCheckpoint blocks die WITH the batch —
        # deterministic storage occupancy instead of wait-for-GC
        # (streaming/release.py)
        with checkpoint_release_scope(spark):
            if keys:
                out = _merge_survivors(spark, out)
            overwrite_partitions(out, path, partition_col)

    def _merge_survivors(spark, out: DataFrame) -> DataFrame:
        # key-level merge: keep the affected partitions' rows whose
        # group key is NOT being re-emitted in this batch
        out = out.localCheckpoint(eager=False)
        affected = [
            r[0] for r in out.select(partition_col).distinct().collect()
        ]
        try:
            existing = spark.read.parquet(path).where(
                F.col(partition_col).isin(affected)
            )
        except AnalysisException as e:
            # only a missing zone means "first batch"; real read
            # failures must propagate, not silently skip the merge
            if (e.getCondition() or "") != "PATH_NOT_FOUND":
                raise
            return out
        survivors = existing.join(
            F.broadcast(out.select(*keys).distinct()), keys, "left_anti"
        )
        # pin BEFORE the overwrite: the plan still reads the files the
        # write is about to replace
        return survivors.unionByName(out).localCheckpoint()

    if keys:
        return foreach_batch_writer(
            stream_df, _upsert, checkpoint_dir, "update"
        ).start()
    return start_partition_keyed(stream_df, _upsert, checkpoint_dir)
