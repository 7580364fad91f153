"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator, spec and scaling checks take a second. The repeat test
starts two traced runs per workload (about five minutes on four cores)
and pins the counts that must repeat exactly for the same seed.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_inputs_follow_the_seed(tmp_path):
    assert gen.click_tick(7, 3) == gen.click_tick(7, 3)
    assert gen.click_tick(7, 3) != gen.click_tick(8, 3)
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_star_schema(str(a), 7)
    gen.write_star_schema(str(b), 7)
    gen.write_star_schema(str(c), 8)
    for t in os.listdir(a):
        assert (a / t).read_bytes() == (b / t).read_bytes(), t
    assert any((a / t).read_bytes() != (c / t).read_bytes() for t in os.listdir(a))


def test_click_tick_is_the_reference_cadence():
    lines = gen.click_tick(1, 0)
    assert len(lines) == gen.EVENTS_PER_TICK == 1200
    events = [json.loads(x) for x in lines]
    assert events[0]["event_ts"] == "2025-09-01T00:00:00Z"
    assert events[-1]["event_ts"] == "2025-09-01T00:00:59.950000Z"
    assert all((e["price"] is None) == (e["event_type"] != "purchase") for e in events)


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


EXACT = {
    "queries_warm": ["spark.jobs", "spark.stages", "artifacts.built", "queries.suite"],
    "clickstream_ticks": [
        f"{s}.{m}" for s in ("ingest", "gate", "kpi", "sketch", "cms")
        for m in ("batches", "input_rows")
    ] + ["spark.jobs", "spark.stages", "kpi.state_rows", "sketch.state_rows"],
}


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_counts_repeat_exactly(workload):
    a, b = _traced(workload, 5), _traced(workload, 5)
    assert {k: a[k] for k in EXACT[workload]} == {k: b[k] for k in EXACT[workload]}


def test_suite_is_the_stratified_choice_of_the_profile():
    import profile_suite
    import wl_queries

    with open(os.path.join(HERE, "suite_profile.json")) as f:
        prof = json.load(f)
    assert list(wl_queries.SUITE) == prof["suite"] == profile_suite.choose(prof["queries"])
    assert set(profile_suite.MUST) <= set(wl_queries.SUITE)
    assert all("error" not in prof["queries"][n] for n in wl_queries.SUITE)


def test_reference_speed_scales_times_and_rates():
    from harness import unit_metrics

    lags = [{"a": 1.0, "b": 3.0}, {"a": 3.0, "b": 5.0}]
    as_measured = unit_metrics(8, 4.0, lags)
    scaled = unit_metrics(8, 4.0, lags, scale=0.5)
    assert as_measured["throughput_per_s"] == 2.0 and scaled["throughput_per_s"] == 4.0
    assert as_measured["latency_p50_s"] == 3.0 and scaled["latency_p50_s"] == 1.5
    assert scaled["latency_p90_s"] == as_measured["latency_p90_s"] * 0.5
