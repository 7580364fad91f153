"""Remaining operator families: range join, ordered array aggregation
(user journeys), pivot, exact percentiles, string-function suite."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ..functions.scalars import KNOWN_EVENT_TYPES, dec_sum_round2
from ..io import load_table
from ..operators.rangejoin import range_join_bucketed
from ..registry import register

# Deterministic synthetic promo windows over the events' January 2024
# span: every 3rd day, 06:00-18:00. Same constants feed the Spark
# literal DataFrame and the oracle VALUES list.
_RANGES = [
    (i, f"2024-01-{d:02d} 06:00:00", f"2024-01-{d:02d} 18:00:00")
    for i, d in enumerate(range(1, 31, 3))
]
_RANGES_SQL = ", ".join(
    f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for i, s, e in _RANGES
)


@register(
    "range_join_windows",
    oracle=f"""
SELECT r.range_id, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(24,8))), 2) AS DOUBLE) AS total_value
FROM events e
JOIN (VALUES {_RANGES_SQL}) r(range_id, w_start, w_end)
  ON e.ts >= r.w_start AND e.ts < r.w_end
GROUP BY r.range_id
""",
)
def range_join_windows(spark, sf_dir):
    """Range join (interval predicate, no equi key) via the bucketed
    operator — events landing inside each promo window."""
    e = load_table(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(s), dt.datetime.fromisoformat(en))
            for i, s, en in _RANGES
        ],
        "range_id INT, w_start TIMESTAMP, w_end TIMESTAMP",
    )
    return (
        range_join_bucketed(e, ranges, "ts", "w_start", "w_end")
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum_round2("value").alias("total_value"),
        )
    )


@register(
    "user_journeys",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       array_to_string(list(event_type ORDER BY ts, event_id), '->') AS journey
FROM events
WHERE ts IS NOT NULL
GROUP BY user_id
""",
)
def user_journeys(spark, sf_dir):
    """Ordered array aggregation: each user's event-type sequence in
    event order. collect_list has no ordering guarantee after a
    shuffle, so the deterministic construction is collect structs ->
    array_sort (lexicographic on (ts, event_id)) -> project the field.
    Serialized '->'-joined for a scalar-typed output column.
    Hot-key note: like every user_id-windowed query, a bot-grade user
    concentrates this plan's shuffle into one task; the bounded-state
    remedy (bucket phase 1 by time, merge bounded per-user lists) is
    implemented and probe-measured in operators/sessionize.py +
    docs/SKEW_PROBE.json and applies to this shape unchanged.
    """
    # NULL-ts events have no position in a time-ordered journey —
    # dropped on both engines (the engines also disagree on where a
    # NULL sorts under ASC order)
    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    journey = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        "->",
    )
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), journey.alias("journey")
    )


_ETYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    oracle=f"""
SELECT CAST(ts AS DATE) AS dt,
       {", ".join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _ETYPES)}
FROM events
GROUP BY 1
""",
)
def pivot_event_counts(spark, sf_dir):
    """Pivot: long->wide per-day event-type counts with a pinned column
    list (open-ended pivots need a values scan first — at 100 TB always
    pin the spine)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("dt"))
        .pivot("event_type", list(_ETYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(_ETYPES))
    )


@register(
    "value_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax
FROM events
GROUP BY event_type
""",
)
def value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``). Scale note: exact percentile sorts per group —
    at 100 TB swap in approx_percentile (t-digest) and accept the
    documented error bound."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


@register(
    "string_suite",
    oracle="""
SELECT doc_id,
       substr(trim(text), 1, 40) AS head40,
       upper(lang) AS lang_up,
       concat_ws('|', lang, source) AS lang_src,
       replace(source, 'src', 'S') AS src_short,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_pad,
       reverse(lang) AS lang_rev,
       contains(text, 'data') AS has_data,
       starts_with(source, 'src1') AS is_src1,
       CAST(strpos(text, 'the') AS BIGINT) AS first_the,
       CAST(levenshtein(lang, 'en') AS BIGINT) AS lang_lev
FROM documents
""",
)
def string_suite(spark, sf_dir):
    """String-function family in one projection (portable pairs:
    strpos <-> locate with swapped args, etc.)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.trim("text"), 1, 40).alias("head40"),
        F.upper("lang").alias("lang_up"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S")).alias("src_short"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("id_pad"),
        F.reverse("lang").alias("lang_rev"),
        F.contains("text", F.lit("data")).alias("has_data"),
        F.startswith("source", F.lit("src1")).alias("is_src1"),
        F.locate("the", F.col("text")).cast("bigint").alias("first_the"),
        F.levenshtein("lang", F.lit("en")).cast("bigint").alias("lang_lev"),
    )


@register(
    "value_percentiles_approx",
    oracle="""
SELECT event_type,
       COUNT(value) AS n,
       ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
       ROUND(quantile_cont(value, 0.9), 4) AS p90_exact,
       ROUND(quantile_cont(value, 0.99), 4) AS p99_exact,
       TRUE AS p50_in_band,
       TRUE AS p90_in_band,
       TRUE AS p99_in_band
FROM events
GROUP BY event_type
""",
)
def value_percentiles_approx(spark, sf_dir):
    """The 100 TB percentile path: approx_percentile (mergeable
    Greenwald-Khanna sketch, single pass, bounded memory).

    The sketch's picks are engine- and merge-order-specific, so the
    cross-engine contract is checked instead of the raw estimates: the
    query emits exact percentiles plus in-query booleans asserting each
    sketch estimate landed inside the exact distribution's rank band
    q±0.01, and the oracle asserts those booleans TRUE. accuracy=10000
    guarantees rank error <= 1e-4, so the ±0.01 band has a 100× margin —
    the booleans are deterministically TRUE for a correct sketch and
    flip (failing the hash) for a broken one. Quantiles are monotone in
    rank, so "value at rank within q±1e-4" lies in
    [percentile(q-0.01), percentile(q+0.01)] whenever the group is
    large enough that ±0.01 of rank spans at least one element on each
    side (n > AP_BAND_MIN_N = 200). Below that the interpolated band can be
    NARROWER than the gap between adjacent data values — a correct
    sketch pick (always an actual element) would fail it — so the
    boolean is defined vacuously TRUE for small groups; the contract
    binds exactly in the regime the sketch exists for.

    Scale note: in production only the sketch aggregates run (no exact
    percentile sort); the exact columns here exist to give the sketch a
    checkable oracle at test scale."""
    g = value_percentiles_frame(spark, sf_dir)

    def _band(ap_i, lo_i, hi_i):
        return (
            (F.col("_ap")[ap_i] >= F.col("_ex")[lo_i])
            & (F.col("_ap")[ap_i] <= F.col("_ex")[hi_i])
        ) | (F.col("n") <= AP_BAND_MIN_N)

    return g.select(
        "event_type",
        "n",
        F.round(F.col("_ex")[1], 4).alias("p50_exact"),
        F.round(F.col("_ex")[4], 4).alias("p90_exact"),
        F.round(F.col("_ex")[7], 4).alias("p99_exact"),
        _band(0, 0, 2).alias("p50_in_band"),
        _band(1, 3, 5).alias("p90_in_band"),
        _band(2, 6, 8).alias("p99_in_band"),
    )


AP_ACCURACY = 10000  # approx_percentile accuracy: rank error <= 1e-4
AP_QS = (0.5, 0.9, 0.99)
# the ±0.01-rank band spans >= 1 element per side only when n > 2/0.01;
# below this the band check is vacuously TRUE (see docstring)
AP_BAND_MIN_N = 200


def value_percentiles_frame(spark, sf_dir):
    """Sketch-bearing aggregate under ``value_percentiles_approx``
    (``_ap`` = GK-sketch picks at :data:`AP_QS`, ``_ex`` = exact
    percentiles at the band edges) — exposed so
    ``tests/test_sketches.py`` can pin the measured rank error to half
    the contract band at sf0.01 AND sf0.1."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.expr(
            f"approx_percentile(value, array{AP_QS}, {AP_ACCURACY})"
        ).alias("_ap"),
        F.expr(
            "percentile(value, array(0.49, 0.5, 0.51, 0.89, 0.9, 0.91,"
            " 0.98, 0.99, 1.0))"
        ).alias("_ex"),
    )


HIST_WIDTH = 25.0  # fixed-width bins over the value domain
HIST_NBINS = 20  # values past the top edge clamp into the last bin


@register(
    "value_histogram",
    oracle=f"""
SELECT event_type,
       LEAST({HIST_NBINS - 1}, GREATEST(0,
           CAST(FLOOR(value / {HIST_WIDTH}) AS BIGINT))) AS bucket,
       LEAST({HIST_NBINS - 1}, GREATEST(0,
           CAST(FLOOR(value / {HIST_WIDTH}) AS BIGINT))) * {HIST_WIDTH}
           AS bucket_lo,
       COUNT(*) AS n
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
""",
)
def value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event type — the distribution
    profile behind dashboards and outlier screens (the binned
    complement of ``value_percentiles``).

    Spelled with portable integer-from-float arithmetic
    (floor(value / width), clamped) instead of ``width_bucket`` —
    identical IEEE division on both engines, and the bucket id is an
    exact BIGINT so the rows hash cross-engine. Scale: a pure
    map-side classification plus one shuffle on (event_type, bucket)
    with bounded key cardinality — histograms of a 100 TB table cost
    one scan regardless of bin count.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(HIST_NBINS - 1),
        F.greatest(
            F.lit(0), F.floor(F.col("value") / HIST_WIDTH).cast("bigint")
        ),
    ).cast("bigint")
    return (
        e.where(F.col("value").isNotNull())
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * HIST_WIDTH).alias("bucket_lo"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# SCD-2 temporal dimension join

# Synthetic slowly-changing dimension over the events' January 2024
# span: each user's "tier" has two versions — v1 valid Jan 1-15,
# v2 valid Jan 16 onward — derived deterministically from user_id.
_SCD_CUT = "2024-01-16"


@register(
    "scd2_tier_join",
    oracle=f"""
WITH dim AS (
    SELECT user_id,
           CAST(user_id % 3 AS BIGINT) AS tier,
           TIMESTAMP '2024-01-01' AS valid_from,
           TIMESTAMP '{_SCD_CUT}' AS valid_to
    FROM (SELECT DISTINCT user_id FROM events)
    UNION ALL
    SELECT user_id,
           CAST((user_id + 1) % 3 AS BIGINT) AS tier,
           TIMESTAMP '{_SCD_CUT}' AS valid_from,
           TIMESTAMP '2099-01-01' AS valid_to
    FROM (SELECT DISTINCT user_id FROM events)
)
SELECT d.tier, CAST(e.ts AS DATE) AS dt,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN dim d ON d.user_id = e.user_id
          AND e.ts >= d.valid_from AND e.ts < d.valid_to
GROUP BY 1, 2
""",
)
def scd2_tier_join(spark, sf_dir):
    """SCD-2 (slowly-changing-dimension) temporal join: each event
    joins the dimension VERSION valid at its event time (equi-key on
    user_id plus a validity-interval predicate), then rolls up per
    (tier, day). The dimension is synthesized deterministically — two
    versions per user around a mid-month cut.

    Scale: the equi-key carries the shuffle (hash join on user_id);
    the interval predicate is a post-join filter on the at-most-2
    matching versions — never a range-only join. An SCD dimension is
    small relative to the fact table, so Catalyst broadcasts it."""
    e = load_table(spark, sf_dir, "events")
    # dim derives from the fact's user universe -> rename the dim key
    # to sidestep self-join ambiguity
    users = e.select(F.col("user_id").alias("d_uid")).distinct()
    cut = F.lit(_SCD_CUT).cast("timestamp")
    v1 = users.select(
        "d_uid",
        (F.col("d_uid") % 3).cast("bigint").alias("tier"),
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        cut.alias("valid_to"),
    )
    v2 = users.select(
        "d_uid",
        ((F.col("d_uid") + 1) % 3).cast("bigint").alias("tier"),
        cut.alias("valid_from"),
        F.lit("2099-01-01").cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    joined = e.join(
        dim,
        (F.col("user_id") == F.col("d_uid"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("ts") < F.col("valid_to")),
    )
    return joined.groupBy("tier", F.to_date("ts").alias("dt")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "key_skew_report",
    oracle="""
WITH counts AS (
    SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS cnt
    FROM events GROUP BY 1
), totals AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM counts
)
-- NULLS LAST is DuckDB's ASC default; spelled because the Spark side
-- must OVERRIDE its nulls-first ASC default to match (operators/
-- scale.py::key_skew_report)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key NULLS LAST) AS BIGINT) AS rank,
       key, cnt,
       CAST(cnt * 1000 // n_rows AS BIGINT) AS share_permille,
       cnt * n_keys > 2 * n_rows AS skewed
FROM counts, totals
QUALIFY rank <= 10
""",
)
def key_skew_report_q(spark, sf_dir):
    """Key-skew diagnosis over the events join key (event_type): the
    pre-shuffle report that picks plain shuffle vs salting
    (operators/scale.py::key_skew_report)."""
    from ..operators.scale import key_skew_report

    return key_skew_report(load_table(spark, sf_dir, "events"), "event_type")


# --------------------------------------------------------------------------
# Robust statistics: median/MAD outlier screen in exact integer cents


def _med2_sql(src: str, part: str, val: str) -> str:
    """Doubled median (2x median) of BIGINT ``val`` per ``part`` via
    order statistics — integer-exact for odd AND even group sizes
    (middle element doubled, or sum of the two middles)."""
    return f"""
    SELECT {part}, CAST(SUM(CASE WHEN rn * 2 IN (n, n + 1, n + 2)
                                 THEN {val} * (CASE WHEN n % 2 = 1 AND rn * 2 = n + 1
                                                    THEN 2 ELSE 1 END)
                                 ELSE 0 END) AS BIGINT) AS med2
    FROM (SELECT {part}, {val},
                 ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {val}) AS rn,
                 COUNT(*) OVER (PARTITION BY {part}) AS n
          FROM {src})
    GROUP BY {part}
"""


def med2_from_hist(h, val):
    """Doubled median via value-at-rank over the histogram: value v
    spans ranks [lo, hi]; med2 = v@rank((n+1) div 2) + v@rank(n div
    2 + 1) — identical to the corpus-ranked formulation for odd
    (2x middle) and even (sum of the two middles) group sizes.

    Spelled as TWO selectExpr parses (r12, the fold_dot_sql lesson):
    the Column-DSL twin (kept below as the plan-equivalence anchor)
    cost ~0.3 s of py4j round-trips per call and this runs twice per
    build. Both window frames share one partitioning AND ordering so
    they ride one WindowExec sort pass instead of two exchanges —
    identical analyzed plan, pinned by
    tests/test_hist_median.py::test_med2_sql_spelling_matches_dsl."""
    over = f"OVER (PARTITION BY event_type ORDER BY {val}"
    r = h.selectExpr(
        "*",
        f"sum(k) {over}) AS _hi",
    ).selectExpr(
        "*",
        "_hi - k + 1 AS _lo",
        f"sum(k) {over} ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND UNBOUNDED FOLLOWING) AS _n",
    )
    pick = (
        f"{val} * (CAST((_lo <= (_n + 1) div 2 AND (_n + 1) div 2 <= _hi)"
        " AS BIGINT)"
        " + CAST((_lo <= _n div 2 + 1 AND _n div 2 + 1 <= _hi) AS BIGINT))"
    )
    return r.groupBy("event_type").agg(
        F.expr(f"CAST(sum({pick}) AS BIGINT)").alias("med2")
    )


def med2_from_hist_dsl(h, val):
    """Column-DSL twin of :func:`med2_from_hist` — the r9-r11 spelling,
    kept as the equivalence anchor the plan test compares against."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(val)
    wn = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r = (
        h.withColumn("_hi", F.sum("k").over(w))
        .withColumn("_lo", F.col("_hi") - F.col("k") + 1)
        .withColumn("_n", F.sum("k").over(wn))
    )
    m1 = F.expr("(_n + 1) div 2")
    m2 = F.expr("_n div 2 + 1")
    covers = lambda m: (F.col("_lo") <= m) & (m <= F.col("_hi"))  # noqa: E731
    pick = F.col(val) * (
        covers(m1).cast("bigint") + covers(m2).cast("bigint")
    )
    return r.groupBy("event_type").agg(
        F.sum(pick).cast("bigint").alias("med2")
    )


@register(
    "mad_outliers",
    oracle=f"""
WITH cents AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL
), med AS ({_med2_sql("cents", "event_type", "c")}),
dev AS (
    SELECT c.event_type, c.c, ABS(2 * c.c - m.med2) AS d
    FROM cents c JOIN med m USING (event_type)
), madt AS ({_med2_sql("dev", "event_type", "d")})
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       m.med2 AS median_cents_x2,
       t.med2 AS mad_cents_x4,
       CAST(COUNT(CASE WHEN 2 * d.d > 3 * t.med2 THEN 1 END) AS BIGINT)
           AS n_outliers
FROM dev d
JOIN med m USING (event_type)
JOIN madt t ON t.event_type = d.event_type
GROUP BY d.event_type, m.med2, t.med2
""",
)
def mad_outliers(spark, sf_dir):
    """Robust outlier screen per event type: median and MAD computed as
    ORDER STATISTICS over exact integer cents (doubled/quadrupled to
    stay integer through even-sized groups), and the 3-MAD rule applied
    by integer cross-multiplication — no float median, no interpolation
    knife-edges, so the whole screen hash-matches the oracle exactly.

    Scale: ONE pass over the corpus builds a per-group value HISTOGRAM
    (integer cents have bounded cardinality); medians fall out of rank
    arithmetic over the histogram and every later stage — deviations,
    MAD, the outlier count — re-aggregates histogram rows, never corpus
    rows. The previous formulation ranked the corpus twice with
    row_number windows (two full sorts, measured 1.7 s at sf0.1 vs
    1.1 s for this shape); at 100 TB the histogram is the difference
    between sorting the fact table and shuffling a few thousand
    (group, value, count) rows."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = e.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    # Materialize the histogram once: the lazy DAG references it through
    # four paths (median, deviation join, MAD, final re-agg) and would
    # re-scan the corpus for each; the pin keeps "one corpus pass" while
    # everything downstream re-aggregates only (group, cent, count) rows
    # — thousands, regardless of corpus size. persist() rather than
    # localCheckpoint (the r8 shape): a checkpoint adds a JOB boundary
    # per call and is never shared across calls, while the cache
    # materializes inside the first consuming job and the CacheManager
    # dedupes repeat calls on plan identity — measured sf0.1 warm path
    # 7 -> 2 jobs, 2.86 -> 0.87 s bench min-of-2; bounded footprint (histogram
    # rows), deterministic inputs, so no sampling-alignment concern.
    hist = (
        cents.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("k"))
        .persist()
    )

    med = med2_from_hist(hist, "c")
    dev_hist = (
        hist.join(med, "event_type")
        .select(
            "event_type",
            "med2",
            F.abs(2 * F.col("c") - F.col("med2")).alias("d"),
            "k",
        )
        .groupBy("event_type", "med2", "d")
        .agg(F.sum("k").alias("k"))
        .persist()  # referenced twice below (MAD + final re-agg)
    )
    madt = med2_from_hist(dev_hist, "d").withColumnRenamed("med2", "mad4")
    return (
        dev_hist.join(madt, "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.sum("k").alias("n"),
            F.sum(
                F.when(2 * F.col("d") > 3 * F.col("mad4"), F.col("k"))
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("med2").alias("median_cents_x2"),
            F.col("mad4").alias("mad_cents_x4"),
            F.coalesce(F.col("n_outliers"), F.lit(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "revenue_gini",
    oracle="""
WITH cents AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL AND value > 0
), ranked AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY c, event_type) AS i
    FROM cents
), sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(c) AS HUGEINT) AS s,
           CAST(SUM(i * c) AS HUGEINT) AS s1
    FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS total_cents,
       CAST((1000 * (2 * s1 - (n + 1) * s)) // (n * s) AS BIGINT)
           AS gini_permille
FROM sums
""",
)
def revenue_gini(spark, sf_dir):
    """Revenue concentration per event type: the exact Gini coefficient
    from the order-statistics identity G = (2*sum(i*x_i) - (n+1)*sum(x))
    / (n*sum(x)) over ascending-sorted integer cents — reported as an
    integer permille via integer division, so both engines agree to the
    bit (rank ties among equal cents cannot change sum(i*x_i): swapping
    equal values across ranks leaves the sum identical).

    The intermediate products n*s and sum(i*c) exceed BIGINT at corpus
    scale (i is corpus-rank), so the sums accumulate in DECIMAL(38,0)/
    HUGEINT before the one division. Scale: one rank window partitioned
    by the group key (never global), then a per-group aggregate."""
    from pyspark.sql import Window

    cents = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & (F.col("value") > 0))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_type")
    ranked = cents.withColumn("i", F.row_number().over(w))
    d38 = "decimal(38,0)"
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("c").cast(d38).alias("s"),
        F.sum(F.col("i").cast(d38) * F.col("c")).cast(d38).alias("s1"),
    )
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("total_cents"),
        F.expr("CAST((1000 * (2*s1 - (n+1)*s)) div (n*s) AS BIGINT)").alias(
            "gini_permille"
        ),
    )


# Declarative data-quality contract: (name, checked-table predicate
# pair). Each check counts its violation predicate over its scan —
# the audit a pipeline gates a release on.
EXPECTATIONS = (
    ("orders_custkey_resolves", "orders"),
    ("lineitem_qty_1_50", "lineitem"),
    ("lineitem_ship_before_1999", "lineitem"),
    ("events_purchase_value_positive", "events"),
    ("events_known_type", "events"),
    ("documents_nchars_consistent", "documents"),
)


@register(
    "expectations_audit",
    oracle=f"""
SELECT 'orders_custkey_resolves' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
           AS n_violations
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem_qty_1_50',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_ship_before_1999',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN l_shipdate >= DATE '1999-01-01' THEN 1 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_purchase_value_positive',
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT),
       CAST(COUNT(CASE WHEN event_type = 'purchase'
                        AND (value IS NULL OR value <= 0) THEN 1 END)
            AS BIGINT)
FROM events
UNION ALL
SELECT 'events_known_type',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN event_type IS NULL OR event_type NOT IN
                       {KNOWN_EVENT_TYPES!r} THEN 1 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'documents_nchars_consistent',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) AS BIGINT)
FROM documents
""",
)
def expectations_audit(spark, sf_dir):
    """Data-quality expectations audit — the declarative constraint
    suite (referential integrity, domains, ranges, derived-column
    consistency) a pipeline evaluates before promoting a snapshot;
    one row per check with checked/violation counts.

    Scale: every in-table check folds into a single conditional-count
    aggregate over one scan (violation predicates evaluate inside the
    scan's codegen stage — six checks are two scans plus one join, not
    six). The referential check is a LEFT join counting unresolved
    keys; at 100 TB both sides shuffle on the key (customer is not a
    broadcastable dim at scale) and AQE handles the skew."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def audit(name, checked, violated):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.count(checked).cast("bigint").alias("n_checked"),
            F.count(violated).cast("bigint").alias("n_violations"),
        )

    ref = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left")
        .agg(
            audit(
                "orders_custkey_resolves",
                F.lit(1),
                F.when(c["c_custkey"].isNull(), 1),
            ).alias("r")
        )
        .select("r.*")
    )
    li_checks = li.agg(
        audit(
            "lineitem_qty_1_50",
            F.lit(1),
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1),
        ).alias("a"),
        audit(
            "lineitem_ship_before_1999",
            F.lit(1),
            F.when(F.col("l_shipdate") >= F.lit("1999-01-01").cast("date"), 1),
        ).alias("b"),
    )
    li_rows = li_checks.select(F.explode(F.array("a", "b")).alias("r")).select(
        "r.*"
    )
    ev_checks = e.agg(
        audit(
            "events_purchase_value_positive",
            F.when(F.col("event_type") == "purchase", 1),
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value").isNull() | (F.col("value") <= 0)),
                1,
            ),
        ).alias("a"),
        audit(
            "events_known_type",
            F.lit(1),
            F.when(
                F.col("event_type").isNull()
                | ~F.col("event_type").isin(*KNOWN_EVENT_TYPES),
                1,
            ),
        ).alias("b"),
    )
    ev_rows = ev_checks.select(F.explode(F.array("a", "b")).alias("r")).select(
        "r.*"
    )
    doc = (
        d.agg(
            audit(
                "documents_nchars_consistent",
                F.lit(1),
                F.when(F.col("n_chars") != F.length("text"), 1),
            ).alias("r")
        )
        .select("r.*")
    )
    return ref.unionAll(li_rows).unionAll(ev_rows).unionAll(doc)


@register(
    "chi2_type_by_weekday",
    oracle="""
WITH obs AS (
    SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
), tot AS (
    SELECT event_type, dow, o,
           SUM(o) OVER (PARTITION BY event_type) AS r,
           SUM(o) OVER (PARTITION BY dow) AS c,
           SUM(o) OVER () AS n
    FROM obs
)
SELECT event_type, dow, o,
       CAST((r * c) // n AS BIGINT) AS expected_floor,
       CAST((1000000 * (o * n - r * c) * (o * n - r * c))
            // (n * r * c) AS BIGINT) AS chi2_contrib_ppm
FROM tot
""",
)
def chi2_type_by_weekday(spark, sf_dir):
    """Chi-square independence screen: is event type independent of
    weekday? Per contingency cell the statistic's contribution
    (O-E)^2/E is carried EXACTLY as the integer cross-multiplied form
    (O*N - R*C)^2 / (N*R*C) in parts-per-million — sum the column and
    compare to the critical value for (|types|-1)(|dows|-1) dof; no
    float expected-counts, so both engines agree to the bit. The
    windowed marginals run over the AGGREGATED contingency table
    (|types| x 7 rows), never the corpus.

    Engine pitfall, handled: Spark dayofweek() is 1..7 Sunday-first,
    DuckDB's is 0..6 — the oracle adds 1 so the bucket keys align.

    Scale: one conditional-count aggregate over the scan; everything
    after operates on the tiny contingency table."""
    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    tot = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast(d38).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).cast(d38).alias("c"),
        F.sum("o").over(
            Window.partitionBy()
        ).cast(d38).alias("n"),
    )
    return tot.select(
        "event_type",
        "dow",
        "o",
        F.expr("CAST((r*c) div n AS BIGINT)").alias("expected_floor"),
        F.expr(
            "CAST((1000000 * (o*n - r*c) * (o*n - r*c)) div (n*r*c) AS BIGINT)"
        ).alias("chi2_contrib_ppm"),
    )


# Symmetric trim fraction for the robust mean, as an exact rational.
TRIM_PCT = 5


@register(
    "trimmed_mean_value",
    oracle=f"""
WITH cents AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL
), ranked AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY c, event_type) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM cents
), kept AS (
    SELECT event_type, c, n FROM ranked
    WHERE rn > (n * {TRIM_PCT}) // 100
      AND rn <= n - (n * {TRIM_PCT}) // 100
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_used,
       CAST((1000000 * SUM(c)) // COUNT(*) AS BIGINT)
           AS trimmed_mean_microcents
FROM kept GROUP BY event_type
""",
)
def trimmed_mean_value(spark, sf_dir):
    """Robust (symmetric 5%-trimmed) mean of the value column per event
    type: drop the floor(n*5/100) smallest and largest integer-cent
    observations by rank, then the exact integer mean of the survivors
    in microcents (integer division) — the robust-location complement
    to mad_outliers' robust-scale screen, and bit-identical across
    engines because no float, percentile interpolation, or
    summation-order effect exists anywhere in it.

    Scale: one rank window partitioned by the group key (never
    global), one aggregate. Ties among equal cents are harmless —
    which duplicates of a value get trimmed is immaterial to the sum
    of what remains."""
    from pyspark.sql import Window

    cents = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_type")
    wn = Window.partitionBy("event_type")
    ranked = cents.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    cut = F.expr(f"(n * {TRIM_PCT}) div 100")
    kept = ranked.where(
        (F.col("rn") > cut) & (F.col("rn") <= F.col("n") - cut)
    )
    return kept.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.expr("CAST((1000000 * SUM(c)) div COUNT(*) AS BIGINT)").alias(
            "trimmed_mean_microcents"
        ),
    )
