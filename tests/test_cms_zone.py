"""Streaming CMS delta-layer zone: exactly-once arithmetic under
replay, serving parity with exact counts, and compaction invariance."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.cms_zone import (
    COMPACTED_LAYER,
    compact_cms_zone,
    estimates_from_zone,
    start_cms_zone,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts string, user_id string").withColumn(
        "ts", F.to_timestamp("ts")
    )


_B1 = [
    ("2024-01-01 10:00:00", "alice"),
    ("2024-01-01 11:00:00", "alice"),
    ("2024-01-01 12:00:00", "bob"),
]
_B2 = [
    ("2024-01-02 10:00:00", "alice"),
    ("2024-01-02 11:00:00", "carol"),
    ("2024-01-01 23:00:00", "bob"),  # late for day 1 -> lands in layer 2
]


def _stage(spark, src, name, rows):
    tmp = src.parent / f"_stage_{name}"
    _events(spark, rows).coalesce(1).write.parquet(str(tmp))
    src.mkdir(parents=True, exist_ok=True)
    part = glob.glob(str(tmp / "part-*.parquet"))[0]
    shutil.copy(part, str(src / f"{name}.parquet"))
    shutil.rmtree(str(tmp))


def _run_stream(spark, src, zone, ckpt):
    stream = (
        spark.readStream.schema("ts timestamp, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_cms_zone(stream, str(zone), str(ckpt))
    assert q.awaitTermination(180), "stream did not drain"


def _ests(spark, zone):
    return {
        r["key"]: r["est"]
        for r in estimates_from_zone(
            spark, str(zone), ["alice", "bob", "carol", "nobody"],
            "2024-01-01", "2024-01-02",
        ).collect()
    }


def test_cms_zone_serves_exact_and_replay_is_exactly_once(spark, tmp_path):
    src, zone, ckpt = tmp_path / "src", tmp_path / "zone", tmp_path / "ckpt"
    _stage(spark, src, "b1", _B1)
    _stage(spark, src, "b2", _B2)
    _run_stream(spark, src, zone, ckpt)

    # two micro-batches -> two delta layers
    layers = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{zone}/batch_id=*")
    )
    assert len(layers) == 2

    # no collisions at this size: estimates equal exact counts; absent
    # key estimates 0
    assert _ests(spark, zone) == {"alice": 3, "bob": 2, "carol": 1, "nobody": 0}

    # full replay from scratch (fresh checkpoint, same source): layers
    # are REWRITTEN with identical content, never appended — additive
    # arithmetic stays exactly-once
    shutil.rmtree(str(ckpt))
    _run_stream(spark, src, zone, tmp_path / "ckpt2")
    assert _ests(spark, zone) == {"alice": 3, "bob": 2, "carol": 1, "nobody": 0}


def test_cms_zone_compaction_preserves_estimates(spark, tmp_path):
    src, zone, ckpt = tmp_path / "src", tmp_path / "zone", tmp_path / "ckpt"
    _stage(spark, src, "b1", _B1)
    _stage(spark, src, "b2", _B2)
    _run_stream(spark, src, zone, ckpt)

    before = _ests(spark, zone)
    folded = compact_cms_zone(spark, str(zone))
    assert folded == 2
    layers = glob.glob(f"{zone}/batch_id=*")
    assert [p.rsplit("=", 1)[1] for p in layers] == [str(COMPACTED_LAYER)]
    assert _ests(spark, zone) == before
    # compacting a compacted zone is a no-op
    assert compact_cms_zone(spark, str(zone)) == 0


def test_cms_zone_compaction_crash_before_gc_never_double_counts(
    spark, tmp_path, monkeypatch
):
    """Crash window the ADVICE flagged: compacted layer fully written,
    folded layer dirs NOT yet deleted. The in-band manifest must make
    readers skip the stale layers, and a re-run must converge instead
    of re-summing them into a corrupted zone."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming import (
        cms_zone as cz,
    )

    src, zone, ckpt = tmp_path / "src", tmp_path / "zone", tmp_path / "ckpt"
    _stage(spark, src, "b1", _B1)
    _stage(spark, src, "b2", _B2)
    _run_stream(spark, src, zone, ckpt)
    before = _ests(spark, zone)

    # simulate the crash: manifest+sums committed, GC never ran
    monkeypatch.setattr(cz, "_gc_layers", lambda *a, **k: None)
    assert compact_cms_zone(spark, str(zone)) == 2
    monkeypatch.undo()
    stale = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{zone}/batch_id=*")
    )
    assert len(stale) == 3  # compacted layer + both stale originals

    # stale layers present but excluded -> estimates exact, not doubled
    assert _ests(spark, zone) == before

    # re-running compaction converges: nothing new to fold, GC finishes
    assert compact_cms_zone(spark, str(zone)) == 0
    layers = glob.glob(f"{zone}/batch_id=*")
    assert [p.rsplit("=", 1)[1] for p in layers] == [str(COMPACTED_LAYER)]
    assert _ests(spark, zone) == before


def test_cms_zone_uncommitted_compaction_layer_is_invisible(spark, tmp_path):
    """A compaction that dies mid-write leaves a negative layer with no
    manifest rows: readers must ignore it and the next compaction must
    GC it."""
    from pyspark.sql import functions as F  # noqa: F811

    src, zone, ckpt = tmp_path / "src", tmp_path / "zone", tmp_path / "ckpt"
    _stage(spark, src, "b1", _B1)
    _stage(spark, src, "b2", _B2)
    _run_stream(spark, src, zone, ckpt)
    before = _ests(spark, zone)

    # forge the torn write: duplicate all data cells under batch_id=-7
    # WITHOUT manifest rows (the real writer commits them together)
    torn = spark.read.parquet(str(zone)).withColumn("batch_id", F.lit(-7))
    torn.repartition(1).write.mode("append").partitionBy("batch_id").parquet(
        str(zone)
    )
    assert _ests(spark, zone) == before  # invisible, not double-counted

    assert compact_cms_zone(spark, str(zone)) == 2
    layers = glob.glob(f"{zone}/batch_id=*")
    # torn layer GC'd; only the new compacted generation remains
    assert [p.rsplit("=", 1)[1] for p in layers] == ["-8"]
    assert _ests(spark, zone) == before


def test_zone_cells_equal_batch_zone_table(spark, tmp_path, monkeypatch):
    """The streaming zone's visible cells equal ``cms_daily_zone_table``
    over the same events: zone-served estimates equal in-query ones."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import (
        artifacts,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import (
        cms_daily_zone_table,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.cms_zone import (
        _visible_cells,
    )

    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    users = ["alice", "bob", "carol", "dave", None]
    rows = [
        (f"2024-01-{8 + i % 5:02d} {i % 24:02d}:00:00", users[i * 7 % 5])
        for i in range(60)
    ]
    events = str(tmp_path / "sf" / "events.parquet")
    _events(spark, rows).coalesce(1).write.parquet(events)
    zone = tmp_path / "zone"
    q = start_cms_zone(
        spark.readStream.schema("ts timestamp, user_id string").parquet(events),
        str(zone),
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(180), "stream did not drain"

    def cells(df):
        return sorted(
            (str(r["dt"]), r["s"], r["b"], r["cnt"]) for r in df.collect()
        )

    batch = cells(cms_daily_zone_table(spark, str(tmp_path / "sf")))
    assert len({c[0] for c in batch}) == 5
    assert cells(_visible_cells(spark.read.parquet(str(zone)))) == batch
