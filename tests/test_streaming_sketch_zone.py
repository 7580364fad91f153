"""Streaming daily-sketch zone: incremental maintenance must converge
to exactly the sketch a batch job would build (register equality), the
range-serve path must answer from sketches alone, and a replayed
stream must leave the zone unchanged (idempotent upsert)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.sketch_zone import (
    SKETCH_LG_K,
    range_distinct_from_zone,
    start_sketch_zone,
)

from conftest import state_layout, state_partitions_from_session


def _mk_events(spark):
    base = dt.datetime(2025, 9, 1, 0, 0)
    rows = []
    # 4 days; user universe overlaps across days so the range-distinct
    # is NOT the sum of daily distincts (the case sketches exist for)
    for d in range(4):
        for i in range(40 + 10 * d):
            rows.append(
                Row(
                    ts=base + dt.timedelta(days=d, minutes=i),
                    user_id=(i * 7) % 90,
                )
            )
    return spark.createDataFrame(rows)


def _drain(spark, src, schema, zone, ckpt, files_per_trigger=1):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    # the input files are hash-sliced, not time-ordered, so every day
    # recurs in every micro-batch — the watermark must cover that
    # disorder or later slices of early days are (correctly) dropped
    # as late; real deployments size it to expected lateness and leave
    # older corrections to the batch backfill (stream_late_data_policy)
    q = start_sketch_zone(stream, zone, ckpt, watermark="10 days")
    assert q.awaitTermination(180), "stream did not drain within timeout"


def test_sketch_zone_converges_and_serves(spark, tmp_path):
    df = _mk_events(spark)
    src = tmp_path / "src"
    # several input files -> several micro-batches with maxFilesPerTrigger=1,
    # so days accumulate across batches (the union-into-state path runs)
    df.repartition(4).write.parquet(str(src))

    zone, ckpt = str(tmp_path / "zone"), str(tmp_path / "ckpt")
    _drain(spark, str(src), df.schema, zone, ckpt)

    batch_direct = (
        df.groupBy(F.to_date("ts").cast("string").alias("dt"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K))
            ).alias("est")
        )
    )
    zone_est = (
        spark.read.parquet(zone)
        .select("dt", F.hll_sketch_estimate("sk").alias("est"))
    )
    # the day partition column reads back as DATE; compare as strings
    got = {str(r.dt): r.est for r in zone_est.collect()}
    want = {str(r.dt): r.est for r in batch_direct.collect()}
    assert got == want, (got, want)

    # serve a 3-day range purely from the zone; compare to exact
    exact = (
        df.where(
            (F.to_date("ts") >= "2025-09-01") & (F.to_date("ts") <= "2025-09-03")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    row = range_distinct_from_zone(
        spark, zone, "2025-09-01", "2025-09-03"
    ).collect()[0]
    assert row.n_days == 3
    assert abs(row.est_distinct - exact) <= max(2, exact * 0.05), (row, exact)


def test_sketch_zone_replay_idempotent(spark, tmp_path):
    df = _mk_events(spark)
    src = tmp_path / "src"
    df.repartition(2).write.parquet(str(src))
    zone = str(tmp_path / "zone")

    _drain(spark, str(src), df.schema, zone, str(tmp_path / "ckpt1"))
    before = sorted(
        (r.dt, bytes(r.sk)) for r in spark.read.parquet(zone).collect()
    )
    # replay the whole input from a FRESH checkpoint into the same zone:
    # every partition is rewritten with identical registers
    _drain(spark, str(src), df.schema, zone, str(tmp_path / "ckpt2"))
    after = sorted(
        (r.dt, bytes(r.sk)) for r in spark.read.parquet(zone).collect()
    )
    assert before == after


def test_run_sketch_zone_job_over_raw(spark, tmp_path):
    """End-to-end: reference-shaped raw JSONL -> run_sketch_zone ->
    range served from sketches; a second run with the same checkpoint
    is a no-op drain (checkpoint-incremental)."""
    import json

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.jobs import (
        run_sketch_zone,
    )

    raw = tmp_path / "raw"
    users = {"2025-09-01": ["u_1", "u_2", "u_3"], "2025-09-02": ["u_2", "u_4"]}
    for day, us in users.items():
        d = raw / f"date={day}" / "hour=10"
        d.mkdir(parents=True)
        lines = [
            json.dumps(
                {
                    "event_ts": f"{day}T10:0{i}:00Z",
                    "user_id": u,
                    "session_id": f"s{i}",
                    "event_type": "page_view",
                    "page": "/",
                    "product_id": "sku_1",
                    "price": None,
                    "currency": "USD",
                    "referrer": "google",
                    "user_agent": "UA",
                }
            )
            for i, u in enumerate(us)
        ]
        (d / "b.jsonl").write_text("\n".join(lines) + "\n")

    zone, ckpt = str(tmp_path / "zone"), str(tmp_path / "ckpt")
    run_sketch_zone(spark, str(raw), zone, ckpt, watermark="30 days")
    row = range_distinct_from_zone(
        spark, zone, "2025-09-01", "2025-09-02"
    ).collect()[0]
    assert row.n_days == 2
    assert row.est_distinct == 4  # u_1..u_4; u_2 counted once

    # re-run: checkpoint already covers every raw file -> zone unchanged
    before = sorted(
        (str(r.dt), bytes(r.sk)) for r in spark.read.parquet(zone).collect()
    )
    run_sketch_zone(spark, str(raw), zone, ckpt, watermark="30 days")
    after = sorted(
        (str(r.dt), bytes(r.sk)) for r in spark.read.parquet(zone).collect()
    )
    assert before == after


def test_run_sketch_backfill_repairs_late_day(spark, tmp_path):
    """Data later than the streaming watermark is (correctly) dropped
    by the maintainer; the batch backfill rebuilds those days from raw
    to exactly the registers a full re-aggregation produces."""
    import json

    from pyspark.sql import functions as F

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.jobs import (
        run_sketch_backfill,
        run_sketch_zone,
    )

    raw = tmp_path / "raw"

    def write_day(day, users, fname):
        d = raw / f"date={day}" / "hour=10"
        d.mkdir(parents=True, exist_ok=True)
        lines = [
            json.dumps(
                {
                    "event_ts": f"{day}T10:{i:02d}:00Z",
                    "user_id": u,
                    "session_id": f"s{i}",
                    "event_type": "page_view",
                    "page": "/",
                    "product_id": "sku_1",
                    "price": None,
                    "currency": "USD",
                    "referrer": "google",
                    "user_agent": "UA",
                }
            )
            for i, u in enumerate(users)
        ]
        (d / fname).write_text("\n".join(lines) + "\n")

    write_day("2025-09-01", ["u_1", "u_2"], "b1.jsonl")
    write_day("2025-09-05", ["u_9"], "b1.jsonl")

    zone, ckpt = str(tmp_path / "zone"), str(tmp_path / "ckpt")
    # tight watermark: once day 5 is seen, day 1 is out of range
    run_sketch_zone(spark, str(raw), zone, ckpt, watermark="1 day")
    # late arrival for day 1 — streamed, but beyond the watermark
    write_day("2025-09-01", ["u_3", "u_4"], "b2_late.jsonl")
    run_sketch_zone(spark, str(raw), zone, ckpt, watermark="1 day")

    def day1_est():
        return (
            spark.read.parquet(zone)
            .where(F.col("dt") == "2025-09-01")
            .select(F.hll_sketch_estimate("sk").alias("e"))
            .collect()[0]["e"]
        )

    assert day1_est() == 2  # late users missing, as documented

    out = run_sketch_backfill(
        spark, str(raw), zone, "2025-09-01", "2025-09-01"
    )
    assert out == {"days_written": 1}
    assert day1_est() == 4  # repaired from raw
    # untouched day survives the dynamic overwrite
    assert (
        spark.read.parquet(zone).where(F.col("dt") == "2025-09-05").count()
        == 1
    )
    # empty range is a no-op
    assert run_sketch_backfill(
        spark, str(raw), zone, "2025-10-01", "2025-10-02"
    ) == {"days_written": 0}


def test_range_serve_prunes_day_partitions(spark, tmp_path):
    """The O(days) claim depends on partition pruning: a dt-range
    filter on the zone must reach the scan as a PartitionFilter, not a
    post-scan filter."""
    df = _mk_events(spark)
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    zone = str(tmp_path / "zone")
    _drain(spark, str(src), df.schema, zone, str(tmp_path / "ckpt"))

    q = range_distinct_from_zone(spark, zone, "2025-09-01", "2025-09-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "isnotnull(dt" in plan, plan
    row = q.collect()[0]
    assert row.n_days == 2


def test_sketch_backfill_reversed_range_raises(spark, tmp_path):
    import pytest as _pytest

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.jobs import (
        run_sketch_backfill,
    )

    with _pytest.raises(ValueError, match="reversed"):
        run_sketch_backfill(
            spark, str(tmp_path), str(tmp_path / "z"), "2025-09-02", "2025-09-01"
        )


def _day_estimates(spark, zone):
    return {
        str(r.dt): r.est
        for r in spark.read.parquet(zone)
        .select("dt", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }


def _batch_estimates(df):
    return {
        str(r.dt): r.est
        for r in df.groupBy(F.to_date("ts").cast("string").alias("dt"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K))
            ).alias("est")
        )
        .collect()
    }


def test_sketch_zone_uses_one_state_partition(spark, tmp_path):
    """The day is the group key and the zone partition: a fresh
    checkpoint pins one state partition, and the caller's session
    keeps its own count."""
    session_n = spark.conf.get("spark.sql.shuffle.partitions")
    df = _mk_events(spark)
    df.coalesce(1).write.parquet(str(tmp_path / "src"))
    zone, ckpt = str(tmp_path / "zone"), str(tmp_path / "ckpt")
    _drain(spark, str(tmp_path / "src"), df.schema, zone, ckpt)
    assert state_layout(ckpt) == ("1", [0])
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_n
    assert _day_estimates(spark, zone) == _batch_estimates(df)


def test_sketch_zone_existing_checkpoint_keeps_state_partitions(
    spark, tmp_path
):
    """A sketch checkpoint created with 8 state partitions restarts
    under the current start with its 8 partitions, and the zone gains
    the new day with the batch sketch's estimate."""
    df = _mk_events(spark)
    first = df.where(F.to_date("ts") < "2025-09-04")
    first.coalesce(1).write.parquet(str(tmp_path / "src" / "b1"))
    src = str(tmp_path / "src" / "*")
    zone, ckpt = str(tmp_path / "zone"), str(tmp_path / "ckpt")
    with state_partitions_from_session(spark, 8):
        _drain(spark, src, df.schema, zone, ckpt)
    assert state_layout(ckpt) == ("8", list(range(8)))
    assert _day_estimates(spark, zone) == _batch_estimates(first)

    df.where(F.to_date("ts") == "2025-09-04").coalesce(1).write.parquet(
        str(tmp_path / "src" / "b2")
    )
    _drain(spark, src, df.schema, zone, ckpt)
    assert state_layout(ckpt) == ("8", list(range(8)))
    assert _day_estimates(spark, zone) == _batch_estimates(df)
