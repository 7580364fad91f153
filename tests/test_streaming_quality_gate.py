"""Streaming expectations gate: routing (never dropping), reason
labels, per-batch metrics, and replay idempotence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.quality_gate import (
    accepted_zone,
    metrics_zone,
    quarantine_zone,
    start_quality_gate,
)

_SCHEMA = (
    "event_id long, ts timestamp, user_id string, event_type string, "
    "value double"
)

_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _rows():
    return [
        (1, _T0, "u1", "view", None),
        (2, _T0, "u1", "purchase", 10.0),
        (3, _T0, "u2", "purchase", -5.0),        # bad value
        (4, _T0, "u2", "teleport", 1.0),         # unknown type
        (5, None, "u3", "click", None),          # missing ts
        (6, None, "u3", "purchase", 0.0),        # missing ts AND bad value
        (7, _T0, "u4", None, None),              # NULL type is a violation
    ]


def _run(spark, tmp_path, sub):
    src = str(tmp_path / "src")
    gate = str(tmp_path / "gate")
    ck = str(tmp_path / f"ck_{sub}")
    spark.createDataFrame(_rows(), _SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema(_SCHEMA).parquet(src)
    start_quality_gate(stream, gate, ck).awaitTermination(120)
    return gate


def test_gate_routes_and_labels(spark, tmp_path):
    gate = _run(spark, tmp_path, "a")
    acc = spark.read.parquet(accepted_zone(gate))
    quar = spark.read.parquet(quarantine_zone(gate))
    assert acc.count() + quar.count() == 7  # routed, never dropped
    assert {r.event_id for r in acc.collect()} == {1, 2}
    labels = {
        r.event_id: sorted(r.violations) for r in quar.collect()
    }
    assert labels == {
        3: ["purchase_value_positive"],
        4: ["known_type"],
        5: ["ts_present"],
        6: ["purchase_value_positive", "ts_present"],
        7: ["known_type"],
    }
    m = {
        r.check_name: r
        for r in spark.read.parquet(metrics_zone(gate)).collect()
    }
    # per-check denominators mirror the batch expectations_audit:
    # whole batch for the row-level checks, PURCHASE rows only for the
    # purchase-value check (a total-rows denominator would dilute its
    # violation rate ~100x vs the batch tier)
    assert m["ts_present"].n_checked == 7
    assert m["known_type"].n_checked == 7
    assert m["purchase_value_positive"].n_checked == 3
    assert m["ts_present"].n_violations == 2
    assert m["known_type"].n_violations == 2  # unknown AND NULL type
    assert m["purchase_value_positive"].n_violations == 2


def test_gate_replay_is_idempotent(spark, tmp_path):
    """A fresh checkpoint over the same source replays batch 0; the
    batch-keyed dynamic overwrite must leave every zone with identical
    content, not doubled rows."""
    gate = _run(spark, tmp_path, "b")

    def snap():
        return (
            sorted(
                r.event_id
                for r in spark.read.parquet(accepted_zone(gate)).collect()
            ),
            sorted(
                r.event_id
                for r in spark.read.parquet(quarantine_zone(gate)).collect()
            ),
            sorted(
                (r.check_name, r.n_checked, r.n_violations)
                for r in spark.read.parquet(metrics_zone(gate)).collect()
            ),
        )

    first = snap()
    src = str(tmp_path / "src")
    ck2 = str(tmp_path / "ck_replay")
    stream = spark.readStream.schema(_SCHEMA).parquet(src)
    start_quality_gate(stream, gate, ck2).awaitTermination(120)
    assert snap() == first


def test_gate_admits_reference_shaped_events(spark, tmp_path):
    """The reference producer's event types (page_view, add_to_cart,
    checkout, purchase; price only on purchases) are all known: a
    generated batch lands wholly in the accepted zone."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.sources.generator import (
        EVENT_TYPES,
        generate_events_batch_deterministic,
    )

    src = str(tmp_path / "src")
    gate = str(tmp_path / "gate")
    events = generate_events_batch_deterministic(spark, 500, days=1).select(
        F.monotonically_increasing_id().alias("event_id"),
        F.to_timestamp("event_ts").alias("ts"),
        "user_id",
        "event_type",
        F.col("price").cast("double").alias("value"),
    )
    events.repartition(1).write.parquet(src)
    types = [r.event_type for r in spark.read.parquet(src).collect()]
    assert set(types) == set(EVENT_TYPES)
    stream = spark.readStream.schema(_SCHEMA).parquet(src)
    start_quality_gate(stream, gate, str(tmp_path / "ck")).awaitTermination(120)
    assert spark.read.parquet(accepted_zone(gate)).count() == len(types)
    n_quarantined = sum(
        r.n_violations for r in spark.read.parquet(metrics_zone(gate)).collect()
    )
    assert n_quarantined == 0
