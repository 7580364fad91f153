"""Scalar Column builders mirroring the reference's row-level Python.

Every builder reproduces the exact semantics of a hand-rolled function
in ``/root/reference`` (cited per function) as a pure Catalyst Column
expression — JVM-side, inside whole-stage codegen, no Python UDFs. The
sharp edges (null coalescing, case normalization, cast swallowing) are
exactly what the DuckDB oracle comparison exercises.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Event-type classification sets — daily_kpis.py:124-127.
PAGEVIEW_TYPES = ("page_view", "pageview", "view")
PURCHASE_TYPES = ("purchase", "order", "checkout")
# The event-type vocabulary the quality gate and expectations_audit
# accept: the driver testdata's types plus the reference producer's
# (produce_events.py:29-32, mirrored by sources/generator.py).
KNOWN_EVENT_TYPES = (
    "view", "click", "purchase", "signup", "error",
    "page_view", "add_to_cart", "checkout",
)


def event_checks() -> dict[str, tuple[Column, Column | None]]:
    """The event-row expectations the streaming quality gate and the
    batch ``expectations_audit`` share: check name -> (VIOLATION
    predicate, true == row fails; CHECKED-population predicate, the
    rate's denominator, None == every row)."""
    purchase = F.col("event_type") == "purchase"
    return {
        # NULL is a violation too: bare ~isin() is NULL for NULL input,
        # which when() treats as false
        "known_type": (
            F.col("event_type").isNull()
            | ~F.col("event_type").isin(*KNOWN_EVENT_TYPES),
            None,
        ),
        "purchase_value_positive": (
            purchase & (F.col("value").isNull() | (F.col("value") <= 0)),
            purchase,
        ),
    }


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def norm_event_type(c: Column | str) -> Column:
    """``str(e.get("event_type") or "").lower()`` — daily_kpis.py:123."""
    return F.lower(F.coalesce(_col(c), F.lit("")))


def is_pageview(c: Column | str) -> Column:
    """Membership in the pageview class — daily_kpis.py:124-125."""
    return norm_event_type(c).isin(*PAGEVIEW_TYPES)


def is_purchase(c: Column | str) -> Column:
    """Membership in the purchase class — daily_kpis.py:126-127."""
    return norm_event_type(c).isin(*PURCHASE_TYPES)


def price_or_zero(c: Column | str) -> Column:
    """``float(e.get("price") or 0)`` with cast errors swallowed —
    daily_kpis.py:128-131. ``try_cast`` swallows, ``coalesce`` zeroes."""
    return F.coalesce(_col(c).try_cast("double"), F.lit(0.0))


def round2(c: Column | str) -> Column:
    """2-dp rounding of revenue — daily_kpis.py:139."""
    return F.round(_col(c), 2)


def dec_sum_round2(c: Column | str) -> Column:
    """Order-independent 2-dp sum of a double expression.

    ``ROUND(SUM(double), 2)`` is knife-edge unstable across engines:
    the per-row product doubles are bit-identical everywhere (IEEE),
    but summation ORDER differs with partitioning, and a sum landing
    within an ulp of a .005 boundary rounds differently (observed at
    sf0.1). Casting each addend to DECIMAL(24,8) makes the sum exact
    and order-independent; the final round/cast is then deterministic.
    DuckDB oracle twin:
    ``CAST(ROUND(SUM(CAST(x AS DECIMAL(24,8))), 2) AS DOUBLE)``.
    """
    return F.round(F.sum(_col(c).cast("decimal(24,8)")), 2).cast("double")


def dec_avg_trunc4_sql(x: str, dialect: str) -> str:
    """SQL for an order-independent 4-dp truncated average, portable
    across Spark (``dialect='spark'``) and DuckDB (``dialect='duckdb'``).

    ``ROUND(AVG(double), 4)`` is the same knife-edge as
    :func:`dec_sum_round2`: partial-aggregation summation order differs
    between engines/partitionings, and a mean landing within an ulp of a
    0.00005 boundary rounds differently (both r1 correctness hash fails
    were this class). Construction:

    1. each addend -> DECIMAL(24,8) (deterministic per-row rounding),
    2. exact decimal SUM -> scaled integer ``I = SUM * 1e8`` (BIGINT),
    3. ``trunc4(avg) = I div (COUNT(x) * 1e4) / 1e4`` — integer
       arithmetic only; both ``div`` and ``//`` truncate toward zero.

    ``NULLIF`` keeps the all-NULL-group case NULL (matching AVG) instead
    of tripping ANSI divide-by-zero. The scaled value is held in a
    38-digit integer container (Spark DECIMAL(38,0), DuckDB HUGEINT),
    so |SUM(x)| is bounded by ~1e29, not the 9.2e10 a BIGINT would
    allow — a single 1e12-sized addend (seen in the adversarial
    fixture's props) overflowed the old BIGINT cast under ANSI mode.
    """
    return dec_avg_trunc_sql(x, dialect, 4)


# the integral-division operator + 38-digit integer container each
# engine needs; pairing them in one table is the point — see the
# dialect note in dec_avg_trunc_sql
_DIALECTS = {
    "spark": ("div", "DECIMAL(38,0)"),
    "duckdb": ("//", "HUGEINT"),
}


def dec_avg_trunc_sql(x: str, dialect: str, dp: int = 4) -> str:
    """Generalized ``dp``-decimal-place truncated average (the single
    source of the decimal scaling/precision constants — the 4-dp query
    averages and the 6-dp k-means/centroid means all compose this, so
    a change to the DECIMAL(24,8) addend cast or the BIGINT bound
    propagates everywhere at once). ``dp`` must be <= 8 (the addend
    scale)."""
    if not 0 <= dp <= 8:
        raise ValueError(f"dp out of range for DECIMAL(24,8) addends: {dp}")
    if dialect not in _DIALECTS:
        raise ValueError(
            f"unknown dialect {dialect!r}; expected one of {sorted(_DIALECTS)}"
        )
    # The (operator, container) pair must keep INTEGRAL division
    # semantics (truncate toward zero) on each engine, which is why the
    # caller names the ENGINE and this table owns the pairing. Spark:
    # `div` on DECIMAL(38,0) is IntegralDivide -> BIGINT quotient.
    # DuckDB: `//` on HUGEINT truncates like its integer form, but `//`
    # on DECIMAL silently degenerates to fractional division — so the
    # DuckDB spelling must use HUGEINT, never DECIMAL.
    idiv, container = _DIALECTS[dialect]
    scaled = f"CAST(SUM(CAST({x} AS DECIMAL(24,8))) * 100000000 AS {container})"
    return (
        f"({scaled} {idiv} (NULLIF(COUNT({x}), 0) * {10 ** (8 - dp)}))"
        f" / CAST({10 ** dp} AS DOUBLE)"
    )


def dec_avg_trunc4(x: str) -> Column:
    """Spark Column twin of :func:`dec_avg_trunc4_sql` (spark dialect).
    ``x`` is a SQL expression string so both sides share one text."""
    return F.expr(dec_avg_trunc4_sql(x, "spark"))


def ts_parse_iso(c: Column | str) -> Column:
    """ISO-8601 parse; Spark's ``to_timestamp`` handles the trailing
    ``Z`` the reference normalizes by hand (ingest_clickstream_to_s3.py:38).

    ``try_to_timestamp``, not ``to_timestamp``: the reference catches
    ``datetime.fromisoformat`` failures and falls back to the
    processing-time bucket (:38,48-51) — under ANSI mode a plain cast
    would instead kill the whole job on the first garbage timestamp.
    NULL-on-failure composes with ``coalesce(..., current_timestamp())``
    downstream to reproduce the fallback exactly."""
    return F.try_to_timestamp(_col(c))


def derive_date(ts: Column | str) -> Column:
    """Event-time partition date — ingest_clickstream_to_s3.py:39."""
    return F.to_date(_col(ts))


def derive_hour(ts: Column | str) -> Column:
    """Zero-padded hour string 00-23 — ingest_clickstream_to_s3.py:40."""
    return F.date_format(_col(ts), "HH")


def parse_date_multi(s: Column | str) -> Column:
    """``YYYY-MM-DD`` or full ISO-8601, quotes/space-trimmed —
    daily_kpis.py:27-44."""
    t = F.trim(F.regexp_replace(_col(s), "[\"']", ""))
    return F.to_date(
        F.coalesce(F.try_to_timestamp(t, F.lit("yyyy-MM-dd")), F.try_to_timestamp(t))
    )


def props_int(props: Column | str, key: str = "k") -> Column:
    """Extract an integer property from the ``props`` JSON string of the
    driver ``events`` table. Regexp (not ``get_json_object``) so the
    DuckDB oracle can use the byte-identical expression."""
    return F.regexp_extract(
        _col(props), f'"{key}"\\s*:\\s*(-?\\d+)', 1
    ).try_cast("bigint")
