"""foreachBatch partition upsert: micro-batches land as day partitions;
a second run over new data updates only the affected day."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.upsert import (
    start_partition_upsert,
)

from conftest import state_layout, state_partitions_from_session


def test_partition_upsert_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    d1 = dt.datetime(2025, 9, 1, 10, 0)
    d2 = dt.datetime(2025, 9, 2, 10, 0)
    b1 = spark.createDataFrame(
        [Row(ts=d1, v=1.0), Row(ts=d1, v=2.0), Row(ts=d2, v=5.0)]
    )
    b1.coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(b1.schema).parquet(str(src / "*"))
    agg = stream.groupBy(F.to_date("ts").cast("string").alias("dt")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    out = tmp_path / "serving"
    q = start_partition_upsert(agg, str(out), str(tmp_path / "ck"), "dt")
    q.awaitTermination(120)
    first = {str(r["dt"]): (r["n"], r["total"]) for r in spark.read.parquet(str(out)).collect()}
    assert first == {"2025-09-01": (2, 3.0), "2025-09-02": (1, 5.0)}

    # new data for day 1 only -> day 1 partition updated in place
    spark.createDataFrame([Row(ts=d1, v=10.0)]).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = start_partition_upsert(agg, str(out), str(tmp_path / "ck"), "dt")
    q2.awaitTermination(120)
    second = {str(r["dt"]): (r["n"], r["total"]) for r in spark.read.parquet(str(out)).collect()}
    assert second["2025-09-01"] == (3, 13.0)
    assert second["2025-09-02"] == (1, 5.0)


def test_key_level_merge_preserves_sibling_groups(spark, tmp_path):
    """partition_col coarser than the group key: update mode re-emits
    only the touched hourly window; without keys=... the day-partition
    overwrite would DELETE the day's other hours. With keys, siblings
    survive and the re-emitted window lands updated."""
    src = tmp_path / "src"
    src.mkdir()
    h10 = dt.datetime(2025, 9, 1, 10, 30)
    h11 = dt.datetime(2025, 9, 1, 11, 30)
    spark.createDataFrame(
        [Row(ts=h10, v=1.0), Row(ts=h11, v=2.0)]
    ).coalesce(1).write.parquet(str(src / "b1"))

    schema = "ts timestamp, v double"
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    agg = stream.groupBy(
        F.date_trunc("hour", "ts").alias("hh")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))

    def with_day(df):
        return df.withColumn("dt", F.to_date("hh").cast("string"))

    out = tmp_path / "serving"
    kw = dict(
        path=str(out),
        checkpoint_dir=str(tmp_path / "ck"),
        partition_col="dt",
        transform=with_day,
        keys=["hh"],
    )
    q = start_partition_upsert(agg, **kw)
    q.awaitTermination(120)

    # batch 2 touches ONLY the 10:00 window of the same day
    spark.createDataFrame([Row(ts=h10, v=10.0)]).coalesce(1).write.parquet(
        str(src / "b2")
    )
    q2 = start_partition_upsert(agg, **kw)
    q2.awaitTermination(120)

    got = {
        r["hh"]: (r["n"], r["total"])
        for r in spark.read.parquet(str(out)).collect()
    }
    # 11:00 sibling survived the 10:00 update inside the same partition
    assert got == {
        dt.datetime(2025, 9, 1, 10, 0): (2, 11.0),
        dt.datetime(2025, 9, 1, 11, 0): (1, 2.0),
    }


def _day_sums(spark, tmp_path):
    """A per-day count/sum stream over ``tmp_path/src/*`` (two days
    landed), its zone dir and its checkpoint dir."""
    src = tmp_path / "src"
    d1 = dt.datetime(2025, 9, 1, 10, 0)
    d2 = dt.datetime(2025, 9, 2, 10, 0)
    spark.createDataFrame(
        [Row(ts=d1, v=1.0), Row(ts=d1, v=2.0), Row(ts=d2, v=5.0)]
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("ts timestamp, v double").parquet(
        str(src / "*")
    )
    agg = stream.groupBy(F.to_date("ts").cast("string").alias("dt")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    return agg, str(tmp_path / "serving"), str(tmp_path / "ck")


def _zone(spark, path):
    return {
        str(r["dt"]): (r["n"], r["total"])
        for r in spark.read.parquet(path).collect()
    }


def test_partition_replace_uses_one_state_partition(spark, tmp_path):
    """The group key IS the zone partition, so the state holds one row
    per live day: a fresh checkpoint pins one state partition, and the
    caller's session keeps its own count."""
    session_n = spark.conf.get("spark.sql.shuffle.partitions")
    assert session_n != "1"
    agg, out, ck = _day_sums(spark, tmp_path)
    q = start_partition_upsert(agg, out, ck, "dt")
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_n
    q.awaitTermination(120)
    assert state_layout(ck) == ("1", [0])
    assert _zone(spark, out) == {
        "2025-09-01": (2, 3.0),
        "2025-09-02": (1, 5.0),
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_n


def test_existing_checkpoint_keeps_its_state_partitions(spark, tmp_path):
    """A checkpoint created with 8 state partitions (the session
    default before the one-partition start) restarts under the current
    start with its 8 partitions and lands the new day correctly."""
    agg, out, ck = _day_sums(spark, tmp_path)
    with state_partitions_from_session(spark, 8):
        start_partition_upsert(agg, out, ck, "dt").awaitTermination(120)
    assert state_layout(ck) == ("8", list(range(8)))

    d3 = dt.datetime(2025, 9, 3, 9, 0)
    spark.createDataFrame([Row(ts=d3, v=7.0), Row(ts=d3, v=1.5)]).coalesce(
        1
    ).write.parquet(str(tmp_path / "src" / "b2"))
    start_partition_upsert(agg, out, ck, "dt").awaitTermination(120)
    assert state_layout(ck) == ("8", list(range(8)))
    assert _zone(spark, out) == {
        "2025-09-01": (2, 3.0),
        "2025-09-02": (1, 5.0),
        "2025-09-03": (2, 8.5),
    }


def test_key_level_merge_keeps_session_state_partitions(spark, tmp_path):
    """The merge path's group key is finer than the partition, so it
    keeps the session's state-partition count."""
    session_n = spark.conf.get("spark.sql.shuffle.partitions")
    src = tmp_path / "src"
    spark.createDataFrame(
        [Row(ts=dt.datetime(2025, 9, 1, 10, 30), v=1.0)]
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("ts timestamp, v double").parquet(
        str(src / "*")
    )
    agg = stream.groupBy(F.date_trunc("hour", "ts").alias("hh")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ck = str(tmp_path / "ck")
    start_partition_upsert(
        agg,
        str(tmp_path / "serving"),
        ck,
        "dt",
        transform=lambda df: df.withColumn("dt", F.to_date("hh")),
        keys=["hh"],
    ).awaitTermination(120)
    assert state_layout(ck) == (session_n, list(range(int(session_n))))
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_n
