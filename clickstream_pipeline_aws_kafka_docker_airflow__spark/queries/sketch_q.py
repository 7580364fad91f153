"""Mergeable-sketch pre-aggregation: the pattern that makes distinct
counts incremental at 100 TB.

``COUNT(DISTINCT user_id)`` over an arbitrary date range normally
re-scans every day of raw events, because daily distincts don't add.
The scalable alternative — what the reference's daily KPI job
(daily_kpis.py:109-140) would grow into at warehouse scale — is a
*sketch zone*: one HyperLogLog sketch per day, built once at ingest
time, then merged (register-wise max) over any range in O(days) instead
of O(events). ``hll_union_agg`` is associative and commutative, so the
merge is partition-order deterministic and re-aggregates freely across
rollup levels (day -> week -> month) without touching raw data again.

Cross-engine contract (same scheme as ``kpi_daily_approx``): the HLL
estimate is engine-specific, so the query emits the exact figures plus
an in-query boolean asserting the merged sketch landed within the error
band, and the oracle asserts that boolean TRUE. lgConfigK=14 gives
rsd ~= 1.04/sqrt(2^14) = 0.8%, so the 5% band is a >6-sigma margin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..io import load_table
from ..operators.dedup import token_hash32_sql
from ..registry import register

HLL_LG_CONFIG_K = 14


@register(
    "hll_range_distinct",
    oracle="""
SELECT date_trunc('week', CAST(ts AS DATE)) AS wk,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
""",
)
def hll_range_distinct(spark, sf_dir):
    """Weekly distinct users via daily-sketch merge.

    Plan shape: phase 1 collapses events to (dt, user_id) partials
    (the same dedup-first shape as ``kpi_daily_approx``); phase 2
    builds ONE sketch per day from the deduplicated keys; phase 3
    merges the 7 daily sketches per ISO week with ``hll_union_agg`` —
    the step that at 100 TB reads a sketch table of a few KB/day
    instead of re-scanning raw events. The exact weekly distinct is
    computed alongside only to feed the contract boolean; production
    drops it and keeps the sketch path (one narrow shuffle over
    (dt, user) keys, then O(days) rows).
    """
    return hll_range_frame(spark, sf_dir).select(
        "wk",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= F.col("exact_users") * HLL_BAND
        ).alias("hll_within_5pct"),
    )


HLL_BAND = 0.05


def hll_range_frame(spark, sf_dir):
    """Estimate-bearing frame under ``hll_range_distinct`` (weekly
    merged-sketch estimate ``_est`` alongside the exact distinct) —
    exposed so ``tests/test_sketches.py`` can pin the measured error to
    half the contract band at sf0.01 AND sf0.1."""
    # NULL-ts events belong to no day (and a NULL week key would also
    # silently fall out of the est/exact inner join while the oracle's
    # GROUP BY keeps it — engines disagree, so the row is dropped
    # explicitly on both)
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day_user = e.groupBy(F.to_date("ts").alias("dt"), "user_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    wk = F.date_trunc("week", F.col("dt")).cast("date").alias("wk")
    # the daily sketch zone: one row per day, mergeable forever after
    daily = day_user.groupBy("dt").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_CONFIG_K)).alias("sk")
    )
    weekly_est = daily.groupBy(wk).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    weekly_exact = (
        day_user.select(wk, "user_id")
        .distinct()
        .groupBy("wk")
        # count(user_id), not count(*): COUNT DISTINCT excludes nulls
        .agg(F.count("user_id").alias("exact_users"))
    )
    return weekly_est.join(weekly_exact, "wk")


# --------------------------------------------------------------------------
# Mergeable count-min zone: range heavy hitters in O(days)

CMSZ_D = 4  # depth (seeded hash rows)
CMSZ_W = 256  # width (buckets per row)
CMSZ_K = 10  # heavy hitters to probe
CMSZ_START, CMSZ_END = "2024-01-08", "2024-01-22"  # [start, end)


def cms_bucket(key: str = "key", width: int = CMSZ_W) -> Column:
    """Bucket ``b`` of the string column ``key`` in hash row ``s``: the
    seeded portable hash that every count-min build and probe shares
    (the oracles spell the same hash in DuckDB)."""
    return F.expr(token_hash32_sql(f"CONCAT(CAST(s AS STRING), '|', {key})")) % width


def _cms_rows() -> Column:
    """One row per hash row ``s`` in [0, CMSZ_D)."""
    return F.explode(F.sequence(F.lit(0), F.lit(CMSZ_D - 1))).alias("s")


def cms_probes(df: DataFrame, *cols: str) -> DataFrame:
    """``cols`` of ``df`` (``key`` among them) once per hash row ``s``,
    with the row's bucket ``b``: the cells a point query reads."""
    return df.select(*cols, _cms_rows()).withColumn("b", cms_bucket())


def cms_cells(ev: DataFrame) -> DataFrame:
    """(dt, s, b, cnt) count-min cells of (dt, key) event rows: one
    {CMSZ_D}x{CMSZ_W} integer sketch per day. The batch zone table and
    the streaming zone's delta layers (streaming/cms_zone.py) are both
    this function, so zone-served estimates equal in-query ones."""
    counts = ev.groupBy("dt", "key").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.select("dt", _cms_rows(), "key", "n")
        .withColumn("b", cms_bucket())
        .groupBy("dt", "s", "b")
        .agg(F.sum("n").alias("cnt"))
    )


def _cms_range_oracle() -> str:
    from .pipeline_q import _hash32_duck

    h = _hash32_duck(f"CAST(s AS VARCHAR) || '|' || key")
    return f"""
WITH ev AS (
    SELECT CAST(ts AS DATE) AS dt, CAST(user_id AS VARCHAR) AS key
    FROM events
    WHERE ts >= TIMESTAMP '{CMSZ_START}' AND ts < TIMESTAMP '{CMSZ_END}'
), counts AS (
    SELECT dt, key, COUNT(*) AS n FROM ev GROUP BY 1, 2
), rows_ AS (
    SELECT dt, s, key, n, {h} % {CMSZ_W} AS b
    FROM counts CROSS JOIN range({CMSZ_D}) r(s)
), daily AS (
    -- the ZONE: one D x W integer sketch per day
    SELECT dt, s, b, SUM(n) AS cnt FROM rows_ GROUP BY dt, s, b
), merged AS (
    -- range merge: cell-wise SUM over the days (CMS is linear)
    SELECT s, b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM daily GROUP BY s, b
), exact AS (
    SELECT key, COUNT(*) AS n FROM ev GROUP BY key
), topk AS (
    SELECT key, n FROM exact
    -- NULLS LAST spelled: DuckDB's ASC default, but the Spark side
    -- must override its nulls-first ASC to match (key is the nullable
    -- user_id — a NULL key must not win ties at the top-K boundary)
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, key NULLS LAST) <= {CMSZ_K}
), probes AS (
    SELECT t.key, t.n, s, {_hash32_duck("CAST(s AS VARCHAR) || '|' || key")} % {CMSZ_W} AS b
    FROM topk t CROSS JOIN range({CMSZ_D}) r(s)
)
SELECT p.key, CAST(p.n AS BIGINT) AS n, CAST(MIN(m.cnt) AS BIGINT) AS est,
       MIN(m.cnt) >= p.n AS overcount_ok
FROM probes p JOIN merged m ON m.s = p.s AND m.b = p.b
GROUP BY p.key, p.n
"""


def _cms_range_events(spark, sf_dir) -> DataFrame:
    """(dt, key) rows of the events in [CMSZ_START, CMSZ_END)."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(CMSZ_START).cast("timestamp"))
        & (F.col("ts") < F.lit(CMSZ_END).cast("timestamp"))
    )
    return e.select(
        F.to_date("ts").alias("dt"), F.col("user_id").cast("string").alias("key")
    )


def cms_daily_zone_table(spark, sf_dir):
    """Materialized daily CMS zone (dt, s, b, cnt) — the batch twin of
    the streaming zone (streaming/cms_zone.py): one {CMSZ_D}x{CMSZ_W}
    integer sketch per day, built once per snapshot; range queries
    merge zone cells and never re-scan raw history."""
    import os

    from ..operators.artifacts import materialized

    return materialized(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        "cms_daily_zone",
        lambda: cms_cells(_cms_range_events(spark, sf_dir)),
        params=f"d{CMSZ_D}w{CMSZ_W}:{CMSZ_START}:{CMSZ_END}",
    )


@register("cms_range_topk", oracle=_cms_range_oracle())
def cms_range_topk(spark, sf_dir):
    """Range heavy hitters from a mergeable DAILY count-min zone — the
    CMS twin of ``hll_range_distinct``: one {CMSZ_D}x{CMSZ_W} integer
    sketch per day, cell-wise SUMMED over the queried date range (CMS
    is linear, so day -> week -> month rollups merge freely), then the
    exact top-{CMSZ_K} users are probed against the merged sketch.
    ``overcount_ok`` is the CMS one-sided guarantee (est >= exact),
    asserted by the oracle.

    Scale: serving a range costs O(days * D * W) sketch cells, never a
    raw re-scan — the zone is the MATERIALIZED ``cms_daily_zone_table``
    artifact (built once per snapshot, exactly as the streaming zone
    persists per-day layers); only the exact-count verification side of
    the contract touches raw events. Integer cells, so the whole chain
    — build, merge, probe — is bit-deterministic and fully
    value-hash-checked (unlike the engine-specific HLL registers,
    which need the error-band contract)."""
    ev = _cms_range_events(spark, sf_dir)
    daily = cms_daily_zone_table(spark, sf_dir)
    merged = daily.groupBy("s", "b").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    exact = ev.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    # NULL key (user_id) pinned LAST at the top-K boundary — the
    # cross-engine nullable-order-key rule (see the oracle comment)
    topk = exact.orderBy(
        F.col("n").desc(), F.asc_nulls_last("key")
    ).limit(CMSZ_K)
    return (
        cms_probes(topk, "key", "n")
        .join(F.broadcast(merged), ["s", "b"])
        .groupBy("key")
        .agg(F.max("n").cast("bigint").alias("n"), F.min("cnt").alias("est"))
        .select("key", "n", "est", (F.col("est") >= F.col("n")).alias("overcount_ok"))
    )


@register(
    "hll_audience_overlap",
    oracle="""
WITH du AS (
    -- NULL-ts events belong to no week (and the NULL week group would
    -- diverge between the groupBy and the overlap self-join anyway:
    -- GROUP BY keeps NULL, a JOIN key never matches it)
    SELECT DISTINCT date_trunc('week', CAST(ts AS DATE)) AS wk,
           event_type, user_id
    FROM events
    WHERE event_type IN ('view', 'purchase') AND ts IS NOT NULL
), v AS (SELECT wk, user_id FROM du WHERE event_type = 'view'),
p AS (SELECT wk, user_id FROM du WHERE event_type = 'purchase'),
j AS (
    SELECT v.wk,
           CAST(COUNT(*) AS BIGINT) AS exact_overlap
    FROM v JOIN p ON v.wk = p.wk AND v.user_id = p.user_id
    GROUP BY v.wk
)
SELECT wk,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                THEN user_id END) AS BIGINT) AS exact_viewers,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                THEN user_id END) AS BIGINT) AS exact_buyers,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union,
       CAST(COALESCE(MAX(j.exact_overlap), 0) AS BIGINT) AS exact_overlap,
       TRUE AS hll_within_5pct_of_union
FROM du LEFT JOIN j USING (wk)
GROUP BY wk
""",
)
def hll_audience_overlap(spark, sf_dir):
    """Audience-overlap estimation from MERGEABLE sketches: weekly
    viewers ∩ buyers via inclusion-exclusion over three HLL estimates
    (|V| + |P| - |V∪P|) — the set-intersection question HLL cannot
    answer directly, answered from per-segment sketches that at 100 TB
    already exist in the sketch zone (no raw re-scan, no distinct-join
    of two corpus-sized audiences). Error is relative to the UNION
    size (each estimate errs ~1/sqrt(2^lg_k) on its own set), so the
    contract bounds |est - exact| by 5% of the exact union. The exact
    sides feed the contract boolean only; production keeps the sketch
    path."""
    sk = hll_overlap_frame(spark, sf_dir)
    est_overlap = F.col("_est_v") + F.col("_est_p") - F.col("_est_u")
    exact_overlap = (
        F.col("exact_viewers") + F.col("exact_buyers") - F.col("exact_union")
    )
    return sk.select(
        "wk",
        "exact_viewers",
        "exact_buyers",
        "exact_union",
        exact_overlap.cast("bigint").alias("exact_overlap"),
        (
            F.abs(est_overlap - exact_overlap)
            <= F.col("exact_union") * HLL_BAND
        ).alias("hll_within_5pct_of_union"),
    )


def hll_overlap_frame(spark, sf_dir):
    """Estimate-bearing frame under ``hll_audience_overlap`` (three HLL
    estimates + exact audience sizes per week) — exposed for the
    half-band margin test in ``tests/test_sketches.py``."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
        & F.col("ts").isNotNull()  # NULL-ts events belong to no week
    )
    wk = F.date_trunc("week", F.to_date("ts")).cast("date")
    du = e.select(
        wk.alias("wk"), "event_type", "user_id"
    ).distinct()
    return du.groupBy("wk").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(
                F.when(F.col("event_type") == "view", F.col("user_id")),
                F.lit(HLL_LG_CONFIG_K),
            )
        ).alias("_est_v"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(
                F.when(F.col("event_type") == "purchase", F.col("user_id")),
                F.lit(HLL_LG_CONFIG_K),
            )
        ).alias("_est_p"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(HLL_LG_CONFIG_K))
        ).alias("_est_u"),
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("exact_viewers"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_buyers"),
        F.countDistinct("user_id").alias("exact_union"),
    )
