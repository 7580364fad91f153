"""Streaming data-quality gate — the per-batch form of the batch
``expectations_audit`` (queries/misc_q.py): every micro-batch of events
is evaluated against the declared in-table expectations, rows failing
ANY check are quarantined with the list of checks they failed, clean
rows are admitted, and a per-batch audit row per check lands in a
metrics zone — the evidence trail a pipeline gates promotion on.

Semantics mirror the reference pipeline's keep-malformed stance
(ingest_clickstream_to_s3.py keeps undecodable payloads instead of
dropping them): violations are never discarded, they are ROUTED — the
quarantine zone holds the offending rows with machine-readable reasons
so they can be re-driven after a fix.

Exactly-once effect: all three zones (accepted, quarantine, metrics)
are written under ``batch_id=<id>`` partitions with dynamic partition
overwrite — a replayed micro-batch rewrites its own partitions with
identical content instead of appending twice (same construction as
streaming/corpus_ingest.py and cms_zone.py).

Scale: the checks are pure column predicates evaluated inside the
batch scan (one pass, no joins, no state store); metrics are one
conditional-count aggregate per batch. Nothing grows with history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.scalars import event_checks
from .upsert import foreach_batch_writer, overwrite_partitions


def gate_checks() -> dict[str, tuple[Column, Column | None]]:
    """check name -> (VIOLATION predicate, CHECKED-population
    predicate): the gate-only ``ts_present`` plus the event checks the
    batch expectations_audit runs (functions/scalars.py::event_checks),
    so both tiers count the same violations over the same denominators
    — purchase_value_positive checks PURCHASE rows, not the whole
    batch, in both."""
    return {"ts_present": (F.col("ts").isNull(), None), **event_checks()}


def accepted_zone(gate_dir: str) -> str:
    return f"{gate_dir}/accepted"


def quarantine_zone(gate_dir: str) -> str:
    return f"{gate_dir}/quarantine"


def metrics_zone(gate_dir: str) -> str:
    return f"{gate_dir}/metrics"


def _gate_one_batch(batch_df: DataFrame, batch_id: int, gate_dir: str) -> None:
    if batch_df.isEmpty():
        return
    checks = gate_checks()
    # one pass: a violations array naming every failed check
    viol = F.array_compact(
        F.array(
            *[F.when(pred, F.lit(name)) for name, (pred, _) in checks.items()]
        )
    )
    flagged = batch_df.withColumn("violations", viol)
    accepted = flagged.where(F.size("violations") == 0).drop("violations")
    quarantined = flagged.where(F.size("violations") > 0)
    metrics = batch_df.agg(
        *[
            F.count(F.when(pred, 1)).alias(name)
            for name, (pred, _) in checks.items()
        ],
        *[
            F.count(F.when(F.lit(True) if scope is None else scope, 1)).alias(
                f"_n_{name}"
            )
            for name, (_, scope) in checks.items()
        ],
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(f"_n_{name}").cast("bigint").alias("n_checked"),
                        F.col(name).cast("bigint").alias("n_violations"),
                    )
                    for name in checks
                ]
            )
        ).alias("m")
    ).select("m.*")

    for df, zone in (
        (accepted, accepted_zone(gate_dir)),
        (quarantined, quarantine_zone(gate_dir)),
        (metrics, metrics_zone(gate_dir)),
    ):
        overwrite_partitions(
            df.withColumn("batch_id", F.lit(batch_id)).repartition(1),
            zone,
            "batch_id",
        )


def start_quality_gate(
    stream_events: DataFrame, gate_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Run the expectations gate over a streaming events frame;
    AvailableNow-triggered so tests and backfills drain the source and
    stop."""

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        _gate_one_batch(batch_df, batch_id, gate_dir)

    return foreach_batch_writer(
        stream_events, _gate, checkpoint_dir, "append"
    ).start()
