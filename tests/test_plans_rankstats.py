"""exact_ntile / exact_ntile_multi: bit-parity with the window NTILE
on hostile orderings, and the plan contract that motivated them — no
WindowExec (and so no corpus-growing single-partition sort) anywhere
in rfm_segments' plan."""

from __future__ import annotations

import random

from pyspark.sql import Window, functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.rankstats import (
    _skinny_ranged,
    exact_ntile,
    exact_ntile_broadcast,
    exact_ntile_multi,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.plans.explain import (
    formatted_plan,
)

from conftest import SF_SMOKE

_Q = registry.queries()


def _frame(spark, n_rows, seed):
    random.seed(seed)
    rows = [
        (i, random.choice([None, 1, 2, 3, 5, 9]), random.randint(0, 4))
        for i in range(n_rows)
    ]
    schema = "id bigint, v bigint, w bigint"
    return (
        spark.createDataFrame(rows, schema)
        if rows
        else spark.createDataFrame([], schema)
    )


def test_exact_ntile_matches_window_ntile(spark):
    """Rank-arithmetic NTILE == window NTILE for empty frames, n < t,
    n % t != 0, NULLS LAST, DESC, and heavy ties — per-row bit parity,
    not distribution parity."""
    for n_rows in (0, 1, 3, 4, 5, 17, 400):
        df = _frame(spark, n_rows, seed=n_rows)
        for tiles in (4, 3, 7):
            for order in (
                [F.asc_nulls_last("v"), F.asc("id")],
                [F.desc("w"), F.asc("id")],
            ):
                got = {
                    r["id"]: r["b"]
                    for r in exact_ntile(df, tiles, order, "b").collect()
                }
                exp = {
                    r["id"]: r["b"]
                    for r in df.select(
                        "id",
                        F.ntile(tiles)
                        .over(Window.orderBy(*order))
                        .cast("bigint")
                        .alias("b"),
                    ).collect()
                }
                assert got == exp, (n_rows, tiles)


def test_exact_ntile_multi_matches_three_windows(spark):
    """The one-shuffle multi-dim variant reproduces three independent
    window NTILEs, including the +inf NULLS-LAST sentinel and DESC
    negation the rfm query uses."""
    df = _frame(spark, 203, seed=42)
    got = {
        r["id"]: (r["a_q"], r["b_q"], r["c_q"])
        for r in exact_ntile_multi(
            df,
            4,
            [
                (
                    "a_q",
                    F.coalesce(F.col("v").cast("double"), F.lit(float("inf"))),
                ),
                ("b_q", -F.col("w").cast("double")),
                ("c_q", F.col("w").cast("double")),
            ],
            "id",
        ).collect()
    }
    exp = {
        r["id"]: (r["a_q"], r["b_q"], r["c_q"])
        for r in df.select(
            "id",
            F.ntile(4)
            .over(Window.orderBy(F.asc_nulls_last("v"), F.asc("id")))
            .cast("bigint")
            .alias("a_q"),
            F.ntile(4)
            .over(Window.orderBy(F.desc("w"), F.asc("id")))
            .cast("bigint")
            .alias("b_q"),
            F.ntile(4)
            .over(Window.orderBy(F.asc("w"), F.asc("id")))
            .cast("bigint")
            .alias("c_q"),
        ).collect()
    }
    assert got == exp


def test_exact_ntile_broadcast_matches_three_windows(spark):
    """The r9 cut-broadcast variant reproduces three independent window
    NTILEs per-row bit-exactly, including empty frames, n < tiles
    (duplicate cut ranks = empty trailing buckets), heavy ties resolved
    by the tie-break, the +inf NULLS-LAST sentinel, and DESC negation."""
    for n_rows in (0, 1, 2, 3, 5, 203):
        df = _frame(spark, n_rows, seed=100 + n_rows)
        got = {
            r["id"]: (r["a_q"], r["b_q"], r["c_q"])
            for r in exact_ntile_broadcast(
                df,
                4,
                [
                    (
                        "a_q",
                        F.coalesce(
                            F.col("v").cast("double"), F.lit(float("inf"))
                        ),
                    ),
                    ("b_q", -F.col("w").cast("double")),
                    ("c_q", F.col("w").cast("double")),
                ],
                "id",
            ).collect()
        }
        exp = {
            r["id"]: (r["a_q"], r["b_q"], r["c_q"])
            for r in df.select(
                "id",
                F.ntile(4)
                .over(Window.orderBy(F.asc_nulls_last("v"), F.asc("id")))
                .cast("bigint")
                .alias("a_q"),
                F.ntile(4)
                .over(Window.orderBy(F.desc("w"), F.asc("id")))
                .cast("bigint")
                .alias("b_q"),
                F.ntile(4)
                .over(Window.orderBy(F.asc("w"), F.asc("id")))
                .cast("bigint")
                .alias("c_q"),
            ).collect()
        }
        assert got == exp, n_rows


def test_broadcast_sql_ladder_matches_dsl(spark, monkeypatch):
    """r12 single-parse CASE-ladder fast path ≡ the Column-DSL ladder:
    force the DSL twin by disabling the literal renderer and compare
    per-row buckets on a tie-heavy frame with the inf sentinel."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import (
        rankstats,
    )

    df = _frame(spark, 203, seed=7)
    dims = [
        (
            "a_q",
            F.coalesce(F.col("v").cast("double"), F.lit(float("inf"))),
        ),
        ("b_q", -F.col("w").cast("double")),
    ]

    def run():
        return {
            r["id"]: (r["a_q"], r["b_q"])
            for r in rankstats.exact_ntile_broadcast(
                df, 4, dims, "id"
            ).collect()
        }

    fast = run()
    monkeypatch.setattr(rankstats, "_double_literal_sql", lambda v: None)
    slow = run()
    assert fast == slow and len(fast) == 203


def test_broadcast_ntile_keeps_caller_temp_named_column(spark):
    """A caller column named like the fast path's temp column
    (``_k_<name>``) must come out unchanged, and the buckets must be
    the ones computed without it."""
    df = _frame(spark, 57, seed=3)
    dims = [("a_q", F.col("v").cast("double")), ("b_q", -F.col("w").cast("double"))]
    plain = {
        r["id"]: (r["a_q"], r["b_q"])
        for r in exact_ntile_broadcast(df.fillna(0, ["v"]), 4, dims, "id").collect()
    }
    clash = df.fillna(0, ["v"]).withColumn("_k_a_q", F.col("id") * 10)
    out = exact_ntile_broadcast(clash, 4, dims, "id")
    assert "_k_a_q" in out.columns
    rows = out.collect()
    assert all(r["_k_a_q"] == r["id"] * 10 for r in rows)
    assert {r["id"]: (r["a_q"], r["b_q"]) for r in rows} == plain


def test_rfm_segments_plan_has_no_window(spark):
    """The point of the rewrites: the FINAL rfm plan must contain NO
    WindowExec (the r7 plan's three unpartitioned ntile windows were a
    single-partition sort of the whole user table), no SinglePartition
    exchange, and — since r9's cut-broadcast shape — no exchange at all
    beyond the user aggregation's own hash shuffle: quartile assignment
    is a projection over broadcast literals."""
    df = _Q["rfm_segments"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # above the cache boundary (the InMemoryRelation holds the user
    # aggregation, whose own hash exchange prints inside its cached
    # plan) the assignment must add NOTHING: no exchange, no sort —
    # pure projection over broadcast literals
    above_cache = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in above_cache, plan
    assert "Exchange" not in above_cache, plan
    assert "Sort" not in above_cache, plan


def test_cut_derivation_rides_range_partitioning(spark):
    """The derivation path (driver-side literals in the final plan, so
    pinned on its own frame): the skinny exploded frame must be range
    partitioned — never a global sort, never a window — and carry only
    the 3 derivation columns + _mid, not the caller's row width."""
    df = _frame(spark, 50, seed=1)
    ranged = _skinny_ranged(
        df, [("a_q", F.col("w").cast("double"))], "id", 8
    )
    plan = formatted_plan(ranged)
    assert "rangepartitioning" in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert set(ranged.columns) == {"_tb", "_dim", "_k", "_mid"}, ranged.columns
