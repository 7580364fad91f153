"""Event-stream queries: scalar-function suite, sessionization,
event-time windows, JSON-prop extraction, user-set operations.

Sessionization upgrades the reference's degenerate per-event
``session_id`` (produce_events.py:37 — a fresh UUID for every event) to
real 30-minute-gap sessions; the windowed rollups generalize the
reference's (date,hour) bucketing (ingest_clickstream_to_s3.py:39-41).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.scalars import (
    dec_avg_trunc4,
    dec_avg_trunc4_sql,
    dec_sum_round2,
    derive_date,
    derive_hour,
    is_pageview,
    is_purchase,
    norm_event_type,
    price_or_zero,
    props_int,
)
from ..io import load_table
from ..registry import register

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "scalar_suite",
    oracle="""
SELECT event_id,
       lower(coalesce(event_type,'')) AS etype_norm,
       (lower(coalesce(event_type,'')) IN ('page_view','pageview','view')) AS is_pv,
       (lower(coalesce(event_type,'')) IN ('purchase','order','checkout')) AS is_pu,
       coalesce(TRY_CAST(value AS DOUBLE), 0.0) AS value_or_zero,
       CAST(ts AS DATE) AS dt,
       strftime(ts, '%H') AS hh,
       TRY_CAST(regexp_extract(props, '"k"\\s*:\\s*(-?\\d+)', 1) AS BIGINT) AS k
FROM events
""",
)
def scalar_suite(spark, sf_dir):
    """Row-level projection exercising the §2.2 scalar ops in one query:
    f_lower_norm, f_isin_classify, f_price_coalesce_cast,
    f_derive_date_hour, ext_json_props."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        norm_event_type("event_type").alias("etype_norm"),
        is_pageview("event_type").alias("is_pv"),
        is_purchase("event_type").alias("is_pu"),
        price_or_zero("value").alias("value_or_zero"),
        derive_date("ts").alias("dt"),
        derive_hour("ts").alias("hh"),
        props_int("props", "k").alias("k"),
    )


@register(
    "sessionize_30min",
    oracle=f"""
WITH l AS (
    -- NULL-ts events cannot be sessionized; dropped on both engines
    -- (operators/sessionize.py::sessionize)
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events WHERE ts IS NOT NULL
), g AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR date_diff('microseconds', prev_ts, ts) > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM l
), s AS (
    SELECT user_id, ts,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
    FROM g
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s
GROUP BY user_id, session_idx
""",
)
def sessionize_30min(spark, sf_dir):
    """Gap-based sessionization (ext_sessionize): lag + cumulative-sum
    of gap flags (operators/sessionize.py), ``direct`` strategy: one
    shuffle on user_id with the analytic functions and the final
    groupBy reusing the same hash partitioning (single exchange). The
    skew-proof ``two_phase`` operator mode returns identical values
    (tests/test_sessionize_salted.py; docs/SKEW_PROBE.json for the
    hot-key evidence)."""
    from ..operators.sessionize import sessionize

    e = load_table(spark, sf_dir, "events")
    return sessionize(e, SESSION_GAP_US)


@register(
    "tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(24,8))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def tumbling_hourly(spark, sf_dir):
    """ext_window_tumbling: 1-hour event-time tumbling window.
    ``date_trunc`` (not ``F.window``) keeps the grouping key a plain
    timestamp column — same hash-agg plan, and the key is also exactly
    what a partitioned sink would bucket by."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dec_sum_round2("value").alias("total_value"),
    )


@register(
    "json_props_agg",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       MIN(k) AS min_k, MAX(k) AS max_k,
       {dec_avg_trunc4_sql("k", "duckdb")} AS avg_k
FROM (
    SELECT event_type,
           TRY_CAST(regexp_extract(props, '"k"\\s*:\\s*(-?\\d+)', 1) AS BIGINT) AS k
    FROM events
)
GROUP BY event_type
""",
)
def json_props_agg(spark, sf_dir):
    """ext_json_props: extract a typed field from the ``props`` JSON
    string and aggregate it per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_type", props_int("props", "k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            dec_avg_trunc4("k").alias("avg_k"),
        )
    )


@register(
    "setops_users",
    oracle="""
WITH p AS (SELECT DISTINCT user_id FROM events
           WHERE lower(coalesce(event_type,'')) = 'purchase'),
     v AS (SELECT DISTINCT user_id FROM events
           WHERE lower(coalesce(event_type,'')) = 'view')
SELECT 'purchase_and_view' AS cohort, COUNT(*) AS n_users
FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM v)
UNION ALL
SELECT 'purchase_not_view', COUNT(*)
FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM v)
UNION ALL
SELECT 'purchase_or_view', COUNT(*)
FROM (SELECT user_id FROM p UNION SELECT user_id FROM v)
""",
)
def setops_users(spark, sf_dir):
    """Set operations (ext_relational): INTERSECT / EXCEPT / UNION
    DISTINCT over per-behavior user cohorts.

    Evaluated as ONE pass: a per-user flag rollup (``has_purchase`` /
    ``has_view`` via MAX over booleans — map-side partials, one corpus
    shuffle) followed by a single conditional-count aggregate. This is
    semantically exact for all three set ops including NULLs: grouping
    keys use the same null-safe equality INTERSECT/EXCEPT/UNION
    DISTINCT use, so a NULL user_id forms one group exactly as it forms
    one set element on both engines. The literal set-op formulation
    (two distincts + intersect/subtract/union + three count rows)
    shuffles the cohorts five more times for the same answer."""
    e = load_table(spark, sf_dir, "events")
    et = norm_event_type("event_type")
    flags = (
        e.where(et.isin("purchase", "view"))
        .select("user_id", (et == "purchase").alias("_p"))
        .groupBy("user_id")
        .agg(F.max("_p").alias("hp"), F.max(~F.col("_p")).alias("hv"))
    )
    counts = flags.agg(
        F.count(F.when(F.col("hp") & F.col("hv"), 1)).alias("n_and"),
        F.count(F.when(F.col("hp") & ~F.col("hv"), 1)).alias("n_not"),
        F.count(F.lit(1)).alias("n_or"),
    )
    row = F.explode(
        F.array(
            F.struct(
                F.lit("purchase_and_view").alias("cohort"),
                F.col("n_and").alias("n_users"),
            ),
            F.struct(
                F.lit("purchase_not_view").alias("cohort"),
                F.col("n_not").alias("n_users"),
            ),
            F.struct(
                F.lit("purchase_or_view").alias("cohort"),
                F.col("n_or").alias("n_users"),
            ),
        )
    )
    return counts.select(row.alias("_r")).select("_r.*")


from ..operators.anomaly import ANOM_WINDOW_H, ANOM_Z, trailing_z_flags  # noqa: E402


@register(
    "hourly_anomalies",
    oracle=f"""
WITH hourly AS (
    -- a NULL-ts event belongs to no hour (the engines also disagree on
    -- NULL placement under the series ORDER BY: Spark ASC sorts NULLS
    -- FIRST, DuckDB NULLS LAST, so keeping the NULL group would shift
    -- every trailing window differently on each engine)
    SELECT CAST(ts AS DATE) AS dt, CAST(hour(ts) AS BIGINT) AS hh,
           COUNT(*) AS c
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), trailed AS (
    SELECT dt, hh, c,
           COUNT(c) OVER w AS trail_n,
           COALESCE(SUM(c) OVER w, 0) AS trail_sum,
           COALESCE(SUM(c * c) OVER w, 0) AS trail_sumsq
    FROM hourly
    WINDOW w AS (ORDER BY dt, hh
                 ROWS BETWEEN {ANOM_WINDOW_H} PRECEDING AND 1 PRECEDING)
)
SELECT dt, hh, c, CAST(trail_sum AS BIGINT) AS trail_sum,
       (c * {ANOM_WINDOW_H} - trail_sum)
         * (c * {ANOM_WINDOW_H} - trail_sum)
         > {ANOM_Z * ANOM_Z}
           * ({ANOM_WINDOW_H} * trail_sumsq - trail_sum * trail_sum)
         AS is_anomaly
FROM trailed WHERE trail_n = {ANOM_WINDOW_H}
""",
)
def hourly_anomalies(spark, sf_dir):
    """Operational anomaly screen over the event-rate series: an hour
    is anomalous when its count deviates from the trailing-24h mean by
    more than {ANOM_Z} standard deviations. The test is evaluated
    ENTIRELY in integers — (c*24 - S1)^2 > 9*(24*S2 - S1^2) is the
    z-test cross-multiplied through the mean/variance denominators —
    so there is no float mean, no sqrt, and no cross-engine knife edge.
    (BIGINT carries this to ~1e8 events/hour; past that the two squared
    terms cast to DECIMAL, same construction as dec_sum_round2.)

    Scale: the window runs over the AGGREGATED hourly series — one row
    per hour, i.e. 8 760 rows/year — after the corpus-sized groupBy has
    reduced the data, so the unpartitioned ordering is series-sized by
    construction, not a corpus-sized global sort (the trap top_tokens
    had). The heavy aggregation underneath shuffles once on (dt, hh).
    """
    # NULL-ts events belong to no hour — dropped on both engines (the
    # standard time-ordered-operator rule; see the oracle comment for
    # the NULL-placement divergence keeping them would expose)
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hourly = e.groupBy(
        F.to_date("ts").alias("dt"), F.hour("ts").cast("bigint").alias("hh")
    ).agg(F.count(F.lit(1)).alias("c"))
    return trailing_z_flags(hourly)


# Attention-interval width: each event claims [ts, ts+5min) of user
# attention; overlapping claims merge. Same constant feeds both engines.
ATTENTION_US = 5 * 60 * 1_000_000


@register(
    "interval_union_coverage",
    oracle=f"""
WITH iv AS (
    -- a NULL-ts event claims no interval (dropped on both engines)
    SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {ATTENTION_US} AS e
    FROM events WHERE ts IS NOT NULL
), m AS (
    SELECT user_id, s, e,
           MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
    FROM iv
), g AS (
    SELECT user_id, s, e,
           CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
               AS new_island
    FROM m
), isl AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS island_id
    FROM g
), spans AS (
    SELECT user_id, island_id, MAX(e) - MIN(s) AS span_us
    FROM isl GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(span_us) AS BIGINT) AS covered_us
FROM spans GROUP BY user_id
""",
)
def interval_union_coverage(spark, sf_dir):
    """Interval union (gaps-and-islands MERGE): each event claims a
    5-minute attention interval; overlapping claims per user coalesce
    into islands, and the output is each user's exact covered time —
    the layout/occupancy computation every availability, billing, or
    dwell-time pipeline needs, and the window pattern `sessionize`'s
    gap flag cannot express (an island's extent is a running MAX of
    interval ENDS, not a lag of starts: a long interval can swallow a
    later-starting shorter one).

    All arithmetic is integer microseconds (unix_micros /
    epoch_us — TZ-free on the NTZ column). Scale: one shuffle on
    user_id; the running-max, island-sum and final per-island group
    all reuse that partitioning (same single-exchange shape the
    sessionizer pins in its plan test)."""
    us = F.unix_micros(F.col("ts"))
    iv = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())  # NULL ts claims no interval
        .select("user_id", us.alias("s"), (us + F.lit(ATTENTION_US)).alias("e"))
    )
    order = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
    ).otherwise(0)
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        iv.withColumn("new_island", new_island)
        .withColumn("island_id", F.sum("new_island").over(cum))
        .groupBy("user_id", "island_id")
        .agg((F.max("e") - F.min("s")).alias("span_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("span_us").alias("covered_us"),
        )
    )


TRIGRAM_TOP = 20


@register(
    "session_trigrams",
    oracle=f"""
WITH l AS (
    SELECT user_id, event_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events WHERE ts IS NOT NULL
), g AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN prev_ts IS NULL
                     OR date_diff('microseconds', prev_ts, ts) > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM l
), s AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_idx
    FROM g
), seqs AS (
    SELECT user_id, session_idx,
           list(event_type ORDER BY ts, event_id) AS seq
    FROM s GROUP BY user_id, session_idx
), tri AS (
    SELECT unnest(list_transform(generate_series(1, len(seq) - 2),
                  i -> array_to_string(list_slice(seq, i, i + 2), '>')))
               AS trigram
    FROM seqs WHERE len(seq) >= 3
), counts AS (
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY trigram
)
SELECT trigram, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, trigram) AS BIGINT) AS rank
FROM counts
QUALIFY rank <= {TRIGRAM_TOP}
""",
)
def session_trigrams(spark, sf_dir):
    """Sequential-pattern mining: the top consecutive event-type
    TRIGRAMS within 30-minute sessions — the length-3 upgrade of
    session_transitions' bigram matrix (a trigram distinguishes
    view>click>purchase from click>view>purchase, which the Markov
    bigram factorization cannot).

    Determinism across engines: per-session order is materialized by
    array_sort over (ts, event_id, event_type) structs — collect_list
    alone has no cross-partition order guarantee. Scale: one user_id
    shuffle shared by the sessionizer window and the per-session
    collect (session arrays are bounded by session length, not corpus
    size); trigram counting is map-side explode + partial agg; top-k
    is TakeOrdered with the rank window over k rows only.
    Hot-key note: like every user_id-windowed query, a bot-grade user
    concentrates this plan's shuffle into one task; the bounded-state
    remedy (bucket phase 1 by time, merge bounded per-user lists) is
    implemented and probe-measured in operators/sessionize.py +
    docs/SKEW_PROBE.json and applies to this shape unchanged.
    """
    # NULL-ts events cannot be sessionized — dropped on both engines
    # (same rule as operators/sessionize.py)
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order)
    new_s = F.when(
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seqs = (
        e.withColumn("new_s", new_s)
        .withColumn("session_idx", F.sum("new_s").over(cum))
        .groupBy("user_id", "session_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("arr")
        )
        .select(F.expr("transform(arr, x -> x.event_type)").alias("seq"))
        .where(F.size("seq") >= 3)
    )
    tri = seqs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(seq) - 2), "
                "i -> concat_ws('>', seq[i-1], seq[i], seq[i+1]))"
            )
        ).alias("trigram")
    )
    counts = tri.groupBy("trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("trigram")).limit(TRIGRAM_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("trigram"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))
