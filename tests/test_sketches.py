"""Sketch accuracy: approx_percentile and HLL distincts stay within
their documented error bounds of the exact operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table

from conftest import SF_CORRECTNESS


def test_approx_percentile_accuracy(spark):
    e = load_table(spark, SF_CORRECTNESS, "events")
    rows = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.9), 1000)").alias("approx"),
        F.expr("percentile(value, array(0.5, 0.9))").alias("exact"),
    ).collect()
    for r in rows:
        for a, x in zip(r["approx"], r["exact"]):
            assert abs(a - x) / max(abs(x), 1e-9) < 0.05, (r["event_type"], a, x)


def test_hll_distinct_accuracy(spark):
    e = load_table(spark, SF_CORRECTNESS, "events")
    row = e.agg(
        F.approx_count_distinct("user_id").alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_cms_daily_merge_equals_direct_build(spark):
    """CMS linearity, the property the daily zone relies on: summing
    the per-day sketches cell-wise equals building one sketch over the
    whole range."""
    from pyspark.sql import functions as F

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import (
        cms_probes,
    )

    rows = [
        ("2024-01-01", "a"), ("2024-01-01", "a"), ("2024-01-01", "b"),
        ("2024-01-02", "a"), ("2024-01-02", "c"), ("2024-01-03", "b"),
    ]
    ev = spark.createDataFrame(rows, "dt string, key string")

    def cells(df, with_day):
        keys = ["dt", "s", "b"] if with_day else ["s", "b"]
        r = cms_probes(df, "dt", "key")
        return r.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))

    daily_merged = (
        cells(ev, True).groupBy("s", "b").agg(F.sum("cnt").alias("cnt"))
    )
    direct = cells(ev, False)
    a = {(r["s"], r["b"]): r["cnt"] for r in daily_merged.collect()}
    b = {(r["s"], r["b"]): r["cnt"] for r in direct.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Contract-band margin pinning (round-5 hardening): the driver-facing
# contract booleans (hll_within_5pct etc.) must never flip on an engine
# version bump. Pin the MEASURED sketch error to half the contract band
# at BOTH sf0.01 and sf0.1, against the very frames the registered
# queries select their booleans from.

import pytest

SF_BOTH = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


@pytest.mark.parametrize("sf_dir", SF_BOTH)
def test_kpi_daily_hll_half_band(spark, sf_dir):
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.time_q import (
        KPI_HLL_BAND,
        kpi_daily_approx_frame,
    )

    rows = kpi_daily_approx_frame(spark, sf_dir).collect()
    assert rows
    for r in rows:
        err = abs(r["_hll"] - r["unique_users"]) / max(r["unique_users"], 1)
        assert err <= KPI_HLL_BAND / 2, (sf_dir, r["dt"], err)


@pytest.mark.parametrize("sf_dir", SF_BOTH)
def test_hll_range_half_band(spark, sf_dir):
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import (
        HLL_BAND,
        hll_range_frame,
    )

    rows = hll_range_frame(spark, sf_dir).collect()
    assert rows
    for r in rows:
        err = abs(r["_est"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= HLL_BAND / 2, (sf_dir, r["wk"], err)


@pytest.mark.parametrize("sf_dir", SF_BOTH)
def test_hll_overlap_half_band(spark, sf_dir):
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import (
        HLL_BAND,
        hll_overlap_frame,
    )

    rows = hll_overlap_frame(spark, sf_dir).collect()
    assert rows
    for r in rows:
        est = r["_est_v"] + r["_est_p"] - r["_est_u"]
        exact = r["exact_viewers"] + r["exact_buyers"] - r["exact_union"]
        err = abs(est - exact) / max(r["exact_union"], 1)
        assert err <= HLL_BAND / 2, (sf_dir, r["wk"], err)


@pytest.mark.parametrize("sf_dir", SF_BOTH)
def test_percentile_sketch_half_band(spark, sf_dir):
    """approx_percentile picks must sit inside the exact q±0.005 value
    band — half the q±0.01 band the registered contract asserts."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.misc_q import (
        AP_QS,
        value_percentiles_frame,
    )

    half_lo = [q - 0.005 for q in AP_QS]
    half_hi = [min(q + 0.005, 1.0) for q in AP_QS]
    e = load_table(spark, sf_dir, "events")
    tight = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in e.groupBy("event_type")
        .agg(
            F.expr(f"percentile(value, array{tuple(half_lo)})").alias("lo"),
            F.expr(f"percentile(value, array{tuple(half_hi)})").alias("hi"),
        )
        .collect()
    }
    rows = value_percentiles_frame(spark, sf_dir).collect()
    assert rows
    for r in rows:
        lo, hi = tight[r["event_type"]]
        for i, q in enumerate(AP_QS):
            assert lo[i] <= r["_ap"][i] <= hi[i], (
                sf_dir, r["event_type"], q, r["_ap"][i], lo[i], hi[i],
            )
