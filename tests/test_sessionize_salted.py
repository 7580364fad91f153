"""The skew-proof two-phase sessionize must be value-identical to the
single-window path — raced on real testdata, fuzzed against a
pure-Python single-pass twin (hot-key-heavy generators), and
plan-pinned so phase 1 really partitions on (user_id, bucket).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table
from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.sessionize import (
    sessionize,
    sessionize_direct,
    sessionize_two_phase,
)

from conftest import SF_SMOKE

GAP_US = 30 * 60 * 1_000_000


def _rows(df):
    return sorted(
        (
            (
                r["user_id"],
                r["session_idx"],
                r["n_events"],
                r["session_start"],
                r["session_end"],
            )
            for r in df.collect()
        ),
        key=lambda t: (t[0] is None, str(t[0]), t[1]),
    )


def test_two_phase_matches_direct_on_testdata(spark):
    e = load_table(spark, SF_SMOKE, "events")
    assert _rows(sessionize_two_phase(e, GAP_US)) == _rows(
        sessionize_direct(e, GAP_US)
    )


def test_two_phase_matches_direct_small_buckets(spark):
    """Buckets NARROWER than the gap force maximal cross-bucket merging
    — every session spans buckets, the hardest merge case."""
    e = load_table(spark, SF_SMOKE, "events")
    assert _rows(
        sessionize_two_phase(e, GAP_US, bucket_us=10 * 60 * 1_000_000)
    ) == _rows(sessionize_direct(e, GAP_US))


def _py_sessionize(events, gap_us):
    """Single-pass twin: events = [(user, event_id, ts_us)]."""
    out = {}
    by_user = {}
    for u, eid, ts in sorted(events, key=lambda r: (r[0], r[2], r[1])):
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        idx, prev = 0, None
        for ts in tss:
            if prev is None or ts - prev > gap_us:
                idx += 1
                out[(u, idx)] = [0, ts, ts]
            rec = out[(u, idx)]
            rec[0] += 1
            rec[2] = ts
            prev = ts
    return sorted(
        (u, i, n, s, e) for (u, i), (n, s, e) in out.items()
    )


_EPOCH = dt.datetime(2025, 9, 1)


@st.composite
def _event_sets(draw):
    """Hot-key-heavy: user 'bot' draws most timestamps; gaps cluster
    around the 30-min boundary and the bucket boundary."""
    n = draw(st.integers(1, 60))
    evs = []
    for i in range(n):
        u = draw(st.sampled_from(["bot", "bot", "bot", "u1", "u2"]))
        # offsets snap near multiples of the gap and the bucket edge
        base = draw(st.integers(0, 5)) * GAP_US
        jitter = draw(
            st.sampled_from([-1, 0, 1, GAP_US, GAP_US + 1, GAP_US - 1])
        )
        ts = max(0, base + jitter + draw(st.integers(0, 10)))
        evs.append((u, i, ts))
    return evs


def _us(ts: dt.datetime) -> int:
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


@given(_event_sets())
@settings(max_examples=25, deadline=None)
def test_two_phase_fuzz_vs_python_twin(spark, evs):
    rows = [
        (u, eid, _EPOCH + dt.timedelta(microseconds=ts)) for u, eid, ts in evs
    ]
    e = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp"
    )
    # tiny bucket (one gap wide) maximizes boundary crossings
    got = [
        (u, i, n, _us(s), _us(e_))
        for u, i, n, s, e_ in _rows(sessionize_two_phase(e, GAP_US, bucket_us=GAP_US))
    ]
    assert got == _py_sessionize(evs, GAP_US)


def test_phase1_partitions_on_bucket(spark):
    """The whole point: the first (event-volume) window must NOT hash on
    user_id alone. Pin hashpartitioning(user_id, _b) in the plan."""
    e = load_table(spark, SF_SMOKE, "events")
    plan = sessionize_two_phase(e, GAP_US)._jdf.queryExecution().toString()
    assert "_b" in plan
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_b" in p and "user_id" in p for p in parts), parts


def test_registered_query_equals_two_phase(spark):
    """sessionize_30min (the direct strategy) and the two_phase operator
    mode return identical rows (the oracle-stays-green contract)."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry

    direct = _rows(registry.queries()["sessionize_30min"](spark, SF_SMOKE))
    e = load_table(spark, SF_SMOKE, "events")
    assert direct == _rows(sessionize(e, GAP_US, mode="two_phase"))


def test_two_phase_null_user_and_ties(spark):
    """NULL user_id forms one window partition in both engines and both
    strategies; identical timestamps stay one session. Testdata carries
    no NULL users, so pin the edge explicitly."""
    t0 = _EPOCH
    rows = [
        (None, 1, t0),
        (None, 2, t0),  # tie with row 1
        (None, 3, t0 + dt.timedelta(minutes=31)),  # new session
        ("u", 4, t0),
        ("u", 5, t0 + dt.timedelta(minutes=30)),  # exactly the gap: same
    ]
    e = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp"
    )
    d = _rows(sessionize_direct(e, GAP_US))
    t = _rows(sessionize_two_phase(e, GAP_US, bucket_us=GAP_US))
    assert d == t
    by_user = {(u, i): n for u, i, n, _, _ in d}
    assert by_user == {(None, 1): 2, (None, 2): 1, ("u", 1): 2}
