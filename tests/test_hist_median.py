"""Property test for the histogram-median rank arithmetic that
``mad_outliers`` uses instead of corpus row_number ranking: for any
multiset of integer values, ``misc_q.med2_from_hist`` over the
(value, count) histogram must equal sorted[(n-1)//2] + sorted[n//2]."""

from __future__ import annotations

from collections import Counter

from hypothesis import example, given, settings, strategies as st

from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.misc_q import (
    med2_from_hist,
)


@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(st.integers(min_value=-500, max_value=500), min_size=1, max_size=40),
        min_size=1,
        max_size=3,
    )
)
# tie- and negative-heavy: repeated values straddle both middle ranks
@example({"a": [-5, -5, -5, 0, 7, 7], "b": [2, 2, 2, 2], "c": [-1]})
@settings(max_examples=12, deadline=None)
def test_hist_med2_equals_sorted_median(spark, groups):
    h = spark.createDataFrame(
        [(g, v, k) for g, vals in groups.items() for v, k in Counter(vals).items()],
        "event_type string, c bigint, k bigint",
    )
    got = {r["event_type"]: r["med2"] for r in med2_from_hist(h, "c").collect()}
    for g, vals in groups.items():
        s = sorted(vals)
        n = len(s)
        expect = s[(n - 1) // 2] + s[n // 2]
        assert got[g] == expect, (g, s, got[g], expect)
