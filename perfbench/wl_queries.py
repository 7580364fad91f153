"""Workload ``queries_warm``: registered queries back to back, warm.

Set-up generates the ten input tables from the seed, then runs a cold
pass: every query in :data:`SUITE` runs once, is collected and compared
with its DuckDB oracle (``testing.compare_frames``), and the build-once
artifacts get built; WARMUP_ROUNDS untimed rounds follow. The timed
region runs whole rounds of the suite, each query forced through the
noop sink, for at least ``--seconds`` and at least MIN_ROUNDS rounds.
At this input size, plan construction over py4j, Catalyst and per-job
scheduling dominate each query; scan and shuffle do little.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry, testing
from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import artifacts

import gen
from harness import unit_metrics

# The suite is a stratified sample of the registry by measured warm wall
# and job count (``profile_suite.py``; the profile it was chosen from is
# committed beside this file), so its mean cost per query tracks the
# whole registry's.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "suite_profile.json")) as _f:
    SUITE = tuple(json.load(_f)["suite"])


# The JVM keeps compiling the driver's planning code for rounds after
# the cold pass: the first warm round runs 10-20 % slower than the
# fourth. It runs in set-up, so that trend stays out of the timed region.
WARMUP_ROUNDS = 1
# A round takes 4-8 s on four cores. Two rounds at least keep a run of
# this workload near a minute; while the host is slow it takes up to
# 100 s even so.
MIN_ROUNDS = 2


def cold_pass(spark, sf: str, qs: dict, oracles: dict, tracer, probe) -> list[str]:
    """Collect each suite query once and compare it with its oracle,
    sampling the host's speed before each. Returns one line per failing
    or mismatching query."""
    con = testing.duckdb_connect(sf)
    bad = []
    try:
        for name in SUITE:
            probe()
            with tracer.span(f"cold.{name}", op=name):
                try:
                    got = qs[name](spark, sf).toPandas()
                except Exception as e:  # noqa: BLE001 — a failing query is a finding
                    bad.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                    continue
            problems = testing.compare_frames(got, con.sql(oracles[name]).df())
            if problems:
                bad.append(f"{name}: " + "; ".join(problems[:3]))
    finally:
        con.close()
    return bad


def _run_query(qs, name: str, spark, sf: str, tracer, split: dict) -> float:
    """One warm query: construct it, then force it through the noop
    sink (the write's own Catalyst pass included). Returns its wall.
    Traced runs then plan the same DataFrame once more, outside the
    wall, to time Catalyst on its own."""
    t0 = time.perf_counter()
    with tracer.span("queries.construct", op=name):
        df = qs[name](spark, sf)
    t1 = time.perf_counter()
    with tracer.span("queries.execute", op=name):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("catalyst.plan", op=name):
            df._jdf.queryExecution().executedPlan()
        split["catalyst.plan_s"] += time.perf_counter() - t2
        split["queries.construct_s"] += t1 - t0
        split["queries.execute_s"] += t2 - t1
    return t2 - t0


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    sf = os.path.join(ctx.work, "sf")
    with tracer.span("sources.generate", op="setup"):
        gen.write_star_schema(sf, ctx.seed)
    qs, oracles = registry.queries(), registry.oracle_sql()
    artifacts.BUILD_WALLS.clear()
    bad = cold_pass(spark, sf, qs, oracles, tracer, ctx.probe)
    layer: dict[str, float] = {
        "artifacts.build_s": sum(artifacts.BUILD_WALLS.values()),
        "artifacts.built": len(artifacts.BUILD_WALLS),
    }
    suite = [n for n in SUITE if not any(b.startswith(f"{n}:") for b in bad)]
    split = dict.fromkeys(("queries.construct_s", "catalyst.plan_s", "queries.execute_s"), 0.0)
    for _ in range(WARMUP_ROUNDS):
        for name in suite:
            ctx.probe()
            with tracer.span("warmup", op=name):
                _run_query(qs, name, spark, sf, tracer, dict(split))
    ctx.setup_done()

    rounds = []  # query walls per round
    c0 = ctx.counters_read()
    t_start = time.perf_counter()
    t_end = t_start + ctx.seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
        walls = {}
        for name in suite:
            ctx.probe()  # between queries, outside every wall
            with tracer.span("query", op=name):
                walls[name] = _run_query(qs, name, spark, sf, tracer, split)
        rounds.append(walls)
    wall = time.perf_counter() - t_start
    c1 = ctx.counters_read()
    if len(artifacts.BUILD_WALLS) != layer["artifacts.built"]:
        bad.append("an artifact was rebuilt in the warm pass")

    n = len(rounds)
    # throughput over the time spent in queries: a traced run's extra
    # planning pass, outside each query's wall, does not count
    busy = sum(sum(w.values()) for w in rounds)
    e2e = unit_metrics(n * len(suite), busy, rounds, ctx.speed.scale())
    measured = unit_metrics(n * len(suite), busy, rounds)
    named = {
        "queries_total_s": (statistics.fmean(sum(w.values()) for w in rounds), "s"),
        "query_p50_s": (measured["latency_p50_s"], "s"),
        "query_p90_s": (measured["latency_p90_s"], "s"),
    }
    layer.update({"queries.suite": len(suite), "rounds": n, "latency_samples": n * len(suite)})
    if tracer.enabled:
        layer.update({k: v / n for k, v in split.items()})
    # the traced planning pass and the probes run no Spark job: keep
    # them out of driver.gap_s
    wall -= split["catalyst.plan_s"] + ctx.timed_probe_s()
    layer.update(ctx.engine_metrics(c0, c1, wall, n))
    return {"e2e": e2e, "named": named, "layer": layer,
            "attempted": len(SUITE) + n * len(suite), "bad": bad}
