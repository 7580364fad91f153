"""Raw-zone freshness healthcheck: fresh / stale / missing-day /
missing-root semantics (previously only verify-skill-probed; committed
after the r6 healthcheck hardening — explicit schema, root raise)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.healthcheck import (
    check_freshness,
)

_DAY = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")


def _write_day(root, day, age_minutes=0):
    d = root / f"date={day}"
    d.mkdir(parents=True, exist_ok=True)
    p = d / "part-0000.json"
    p.write_text(json.dumps({"user_id": "u1"}) + "\n")
    if age_minutes:
        old = dt.datetime.now().timestamp() - age_minutes * 60
        os.utime(p, (old, old))
    return p


def test_fresh_file_passes(spark, tmp_path):
    _write_day(tmp_path, _DAY)
    assert check_freshness(spark, str(tmp_path), lookback_minutes=20)


def test_stale_file_fails(spark, tmp_path):
    _write_day(tmp_path, _DAY, age_minutes=120)
    assert not check_freshness(spark, str(tmp_path), lookback_minutes=20)


def test_missing_day_partition_is_stale_not_error(spark, tmp_path):
    _write_day(tmp_path, "1999-01-01")  # root exists, today absent
    assert not check_freshness(spark, str(tmp_path), lookback_minutes=20)


def test_missing_root_raises(spark, tmp_path):
    """A misconfigured raw_path must page differently than staleness."""
    with pytest.raises(FileNotFoundError, match="root missing"):
        check_freshness(spark, str(tmp_path / "nope"), lookback_minutes=20)


def test_no_schema_inference_scan(spark, tmp_path):
    """The check must not run json schema inference (a full day-partition
    data read); with the explicit trivial schema, no Spark job should
    scan more than the limit(1) probe — assert via job count."""
    _write_day(tmp_path, _DAY)
    sc = spark.sparkContext
    sc.setJobGroup("hc-probe", "freshness")
    try:
        assert check_freshness(spark, str(tmp_path), lookback_minutes=20)
    finally:
        sc._jsc.sc().clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("hc-probe") or []
    assert len(jobs) <= 1, "schema inference ran extra jobs"


def test_unreadable_day_raises_not_stale(spark, tmp_path):
    """Only an absent day partition reads as stale; any other read
    failure (here an unknown source format) must propagate."""
    _write_day(tmp_path, _DAY)
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        check_freshness(
            spark, str(tmp_path), lookback_minutes=20, fmt="no_such_format"
        )
