"""Engine confs apply loudly: a runtime conf that fails to set raises
out of ``io.load_table``; only a builder-only conf in
``$SPARK_GRAFT_EXTRA_CONFS`` is skipped on a live session."""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException
from pyspark.sql.conf import RuntimeConfig

from clickstream_pipeline_aws_kafka_docker_airflow__spark import io
from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import (
    ENGINE_CONFS,
    apply_engine_confs,
    get_spark,
)


def test_engine_conf_failure_propagates_from_load_table(
    spark, sf_dir, monkeypatch
):
    real_set = RuntimeConfig.set

    def refuse_aqe(self, key, value):
        if key == "spark.sql.adaptive.enabled":
            raise RuntimeError("refused")
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", refuse_aqe)
    with pytest.raises(RuntimeError, match="refused"):
        io.load_table(spark, sf_dir, "events")


def test_builder_only_extra_confs_are_skipped(spark, monkeypatch):
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    # a static SQL conf and a core conf: the two refusals a live
    # session raises, both skipped
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONFS",
        "spark.sql.warehouse.dir=/nonexistent;spark.executor.cores=3",
    )
    apply_engine_confs(spark)
    assert spark.conf.get("spark.sql.warehouse.dir") == warehouse


def test_runtime_extra_conf_error_propagates(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", "spark.sql.adaptive.enabled=maybe")
    with pytest.raises(IllegalArgumentException):
        apply_engine_confs(spark)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_extra_conf_override_of_engine_key_holds(spark, sf_dir, monkeypatch):
    """An extras override of an ENGINE_CONFS key survives ``get_spark``
    and ``io.load_table``: the hook is applied after the engine's own
    value."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{key}=1234")
    try:
        session = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
        assert session.conf.get(key) == "1234"
        io.load_table(spark, sf_dir, "events")
        assert spark.conf.get(key) == "1234"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONFS")
        apply_engine_confs(spark)
    assert spark.conf.get(key) == ENGINE_CONFS[key]
