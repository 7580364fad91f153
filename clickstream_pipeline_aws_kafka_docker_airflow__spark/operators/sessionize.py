"""Gap-based sessionization, with a skew-proof two-phase variant.

Reference semantics (clickstream session KPIs): consecutive events of
one user belong to one session while the gap between them is <= the
session gap; a larger gap starts a new session. ``session_idx`` is the
1-based session ordinal in time order.

Two physical strategies, identical output:

* ``direct`` — one window ``partitionBy(user_id)``: lag + cumulative
  sum of gap flags, then a groupBy that reuses the same hash
  partitioning (single exchange). The right plan when no single user
  dominates: one shuffle, one sort.

* ``two_phase`` — the skew-proof path. A single bot-grade user owning
  20% of a 100 TB day would put 20% of the table into ONE reducer's
  sort under ``direct`` (the classic straggler/OOM at scale). Here
  phase 1 windows on ``(user_id, time_bucket)`` so the hot user's rows
  spread over ``span / bucket`` reducers, and collapses each bucket's
  events into LOCAL sessions (count, min ts, max ts). Phase 2 windows
  on ``user_id`` alone — but over local-session rows, whose count per
  user is bounded by ``true_sessions + n_buckets`` (each bucket adds at
  most one split), i.e. by the time span over the gap — INDEPENDENT of
  the user's event count. A bot firing every second for 30 days is 2.6M
  events but at most ~720 hourly local sessions: phase 2's hot-key
  state is ~4 orders of magnitude smaller than the input.

  Correctness of the merge: every local session is confined to its
  bucket's time range and buckets are disjoint, so one user's local
  sessions are pairwise disjoint in time; ordered by start, the
  previous session's end is the running maximum of all earlier ends,
  and the boundary test ``start - prev_end > gap`` is literally the
  event-level test between the boundary-adjacent pair (bucket b's last
  event IS prev_end; bucket b+1's first event IS start).

Fuzzed against a pure-Python single-pass twin and raced against
``direct`` in tests/test_sessionize_salted.py. The registered
``sessionize_30min`` (queries/events_q.py) runs ``direct``; the tests
hold ``two_phase`` to that query's oracle on the adversarial and empty
fixtures, and the skew probe (scripts/scale_probe.py skew) measures it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: 30 minutes, the reference's session gap.
DEFAULT_GAP_US = 30 * 60 * 1_000_000
#: 1 day of microseconds — phase-1 bucket width. Wider buckets = fewer
#: phase-2 rows but less hot-key spreading; bucket >= gap keeps the
#: local-session count near the true count.
DEFAULT_BUCKET_US = 86_400_000_000


def _new_session_flag(prev_end, start, gap_us: int):
    return F.when(
        prev_end.isNull()
        | ((F.unix_micros(start) - F.unix_micros(prev_end)) > gap_us),
        1,
    ).otherwise(0)


def sessionize_direct(e: DataFrame, gap_us: int = DEFAULT_GAP_US) -> DataFrame:
    """Single-window sessionize: one shuffle on user_id; the two
    analytic functions and the final groupBy(user_id, session_idx) all
    reuse the same hash partitioning, so Catalyst plans one exchange.
    NULL-ts rows are dropped (see :func:`sessionize`); the filter here
    keeps DIRECT callers of this strategy on the same rule (a repeated
    filter folds away under constraint propagation)."""
    e = e.where(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = _new_session_flag(F.lag("ts").over(order), F.col("ts"), gap_us)
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("new_s", new_s)
        .withColumn("session_idx", F.sum("new_s").over(cum))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def sessionize_two_phase(
    e: DataFrame,
    gap_us: int = DEFAULT_GAP_US,
    bucket_us: int = DEFAULT_BUCKET_US,
) -> DataFrame:
    """Skew-proof sessionize (see module docstring). Bit-identical
    output to :func:`sessionize_direct` for any input. NULL-ts rows
    are dropped (same rule, kept strategy-local for direct callers —
    a NULL time bucket would otherwise collapse them into one
    meaningless partition)."""
    e = e.where(F.col("ts").isNotNull())
    # phase 1: local sessions within (user, time bucket)
    w1 = Window.partitionBy("user_id", "_b").orderBy("ts", "event_id")
    new_local = _new_session_flag(F.lag("ts").over(w1), F.col("ts"), gap_us)
    cum1 = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        e.withColumn(
            "_b", F.floor(F.unix_micros(F.col("ts")) / F.lit(bucket_us))
        )
        .withColumn("_new", new_local)
        .withColumn("_ls", F.sum("_new").over(cum1))
        .groupBy("user_id", "_b", "_ls")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("ts").alias("_s"),
            F.max("ts").alias("_e"),
        )
    )
    # phase 2: merge boundary-adjacent local sessions; input rows per
    # user are bounded by span/gap, not by event count
    w2 = Window.partitionBy("user_id").orderBy("_s", "_e")
    new_sess = _new_session_flag(F.lag("_e").over(w2), F.col("_s"), gap_us)
    cum2 = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        local.withColumn("_new2", new_sess)
        .withColumn("session_idx", F.sum("_new2").over(cum2))
        .groupBy("user_id", "session_idx")
        .agg(
            F.sum("_n").alias("n_events"),
            F.min("_s").alias("session_start"),
            F.max("_e").alias("session_end"),
        )
    )


def sessionize(
    e: DataFrame,
    gap_us: int = DEFAULT_GAP_US,
    mode: str = "direct",
    bucket_us: int = DEFAULT_BUCKET_US,
) -> DataFrame:
    """Dispatch: ``direct`` (default; one exchange, right when keys are
    balanced) or ``two_phase`` (bounded per-reducer state under hot
    keys). Same schema and values either way.

    An event with a NULL timestamp cannot be placed in any session
    (there is no gap to measure) — such rows are dropped here, in ONE
    place, so both strategies agree: ``direct`` would otherwise make
    each NULL row its own session (NULL lag = new-session flag) while
    ``two_phase`` would collapse them into a NULL time bucket."""
    e = e.where(F.col("ts").isNotNull())
    if mode == "two_phase":
        return sessionize_two_phase(e, gap_us, bucket_us)
    if mode != "direct":
        raise ValueError(f"sessionize: unknown mode {mode!r}")
    return sessionize_direct(e, gap_us)
