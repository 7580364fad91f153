"""Synthetic clickstream event generator (gen_synthetic_events).

Reproduces the distributions of the reference producer
(``/root/reference/kafka/producer/produce_events.py:23-45``):

* ``event_type`` weighted 0.75/0.15/0.07/0.03 over
  page_view/add_to_cart/checkout/purchase (:29-32) — here a cumulative
  CDF ladder over one ``rand()``;
* ``price`` uniform(5,120) rounded 2dp, only on purchases, else null (:33,41);
* 2000 users, 300 SKUs, 5 pages, 4 referrers, fixed UA (:23-26,44);
* ``session_id`` a fresh UUID per event (:37) — faithfully degenerate;
* fast-forward clock: evenly spaced timestamps across
  ``[start, start+days)`` (:49-70).

Batch variant generates N events distributed (``spark.range`` — one
task per slice, no driver loop); streaming variant rides the ``rate``
source at ``rows_per_second`` like the realtime 20 ev/s mode (:97-98).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

EVENT_TYPES = ("page_view", "add_to_cart", "checkout", "purchase")
EVENT_WEIGHTS = (0.75, 0.15, 0.07, 0.03)
PAGES = ("/", "/search", "/product", "/cart", "/checkout")
REFERRERS = ("google", "email", "direct", "ads")
USER_AGENT = "Mozilla/5.0 (compatible; synthetic-load/1.0)"
N_USERS = 2000
N_SKUS = 300


def _weighted_choice(r: Column, values: tuple[str, ...], weights: tuple[float, ...]) -> Column:
    """Cumulative-CDF ladder over one uniform draw — the declarative
    equivalent of ``random.choices(values, weights)``."""
    expr = None
    cum = 0.0
    for v, w in zip(values[:-1], weights[:-1]):
        cum += w
        expr = (F.when(r < cum, v) if expr is None else expr.when(r < cum, v))
    return expr.otherwise(values[-1])


def _uniform_pick(r: Column, values: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (r * len(values)).cast("int") + 1)


_PURCHASE_CDF = 1.0 - EVENT_WEIGHTS[-1]  # r >= 0.97 -> purchase


def _events_from(base: DataFrame, ts: Column) -> DataFrame:
    """Project event columns from a base frame.

    The uniform draws are materialized as columns FIRST: Spark does not
    deduplicate nondeterministic expressions, so referencing ``rand()``
    twice inside a when-ladder would redraw per branch and skew the
    distribution (the bug our distribution test catches).
    """
    drawn = base.select(
        ts.alias("_ts"),
        F.rand().alias("_r_type"),
        F.rand().alias("_r_user"),
        F.rand().alias("_r_page"),
        F.rand().alias("_r_sku"),
        F.rand().alias("_r_ref"),
        F.rand().alias("_r_price"),
    )
    return drawn.select(
        F.date_format("_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("event_ts"),
        F.concat(
            F.lit("u_"), ((F.col("_r_user") * N_USERS).cast("int") + 1).cast("string")
        ).alias("user_id"),
        F.expr("uuid()").alias("session_id"),
        _weighted_choice(F.col("_r_type"), EVENT_TYPES, EVENT_WEIGHTS).alias(
            "event_type"
        ),
        _uniform_pick(F.col("_r_page"), PAGES).alias("page"),
        F.concat(
            F.lit("sku_"), ((F.col("_r_sku") * N_SKUS).cast("int") + 1).cast("string")
        ).alias("product_id"),
        # price iff the same draw classified this row as a purchase
        F.when(
            F.col("_r_type") >= _PURCHASE_CDF,
            F.round(F.col("_r_price") * 115 + 5, 2),
        ).alias("price"),
        F.lit("USD").alias("currency"),
        _uniform_pick(F.col("_r_ref"), REFERRERS).alias("referrer"),
        F.lit(USER_AGENT).alias("user_agent"),
    )


def generate_events_batch(
    spark: SparkSession,
    n_events: int,
    start_date: str = "2025-09-01",
    days: int = 7,
    num_partitions: int | None = None,
) -> DataFrame:
    """Fast-forward backfill mirroring ``sim_timestamps``
    (produce_events.py:49-70): ``n_events`` is the FF_EVENTS_TARGET; the
    actual row count and step come from :func:`ff_schedule` (reference
    edge semantics — rounded step, ``ceil(duration/step)`` rows)."""
    step_us, n_rows = ff_schedule(n_events, days)
    base = spark.range(
        0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism
    )
    ts = F.timestamp_micros(
        F.unix_micros(F.lit(start_date).cast("timestamp")) + F.col("id") * step_us
    )
    return _events_from(base, ts)


# ---------------------------------------------------------------------------
# Deterministic variant: hash-based draws instead of rand().
#
# Same distributions as the reference producer, but every field is a
# pure function of the row index via md5 — so (a) backfills are
# reproducible run-to-run, and (b) the generator itself gets a full
# DuckDB oracle (the rand() variant can only ever be rows-checked).
# Draws are 24-bit integers (first 6 md5 hex nibbles); all selection
# arithmetic stays in integer space so both engines agree bit-for-bit.

GEN_SEED = "g"
DRAW_BITS = 24
DRAW_SCALE = 1 << DRAW_BITS  # 16^6
HEX = "0123456789abcdef"

# CDF thresholds in integer draw space (floor of cumulative weight)
_CUM = []
_acc = 0.0
for _w in EVENT_WEIGHTS[:-1]:
    _acc += _w
    _CUM.append(int(_acc * DRAW_SCALE))
TYPE_THRESHOLDS = tuple(_CUM)  # page_view / add_to_cart / checkout cutoffs
PURCHASE_MIN_DRAW = TYPE_THRESHOLDS[-1]  # draw >= this -> purchase
PRICE_CENT_SPAN = 11500  # uniform(5,120) in cents: 500 + [0, 11500)


def det_draw_duckdb_sql(field: str, i_sql: str) -> str:
    """DuckDB spelling of the 24-bit deterministic uniform draw for
    (field, row-index) — strpos nibble ladder (DuckDB has no base-16
    conv)."""
    h = f"md5('{GEN_SEED}|{field}|' || CAST({i_sql} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('{HEX}', substr({h}, {p + 1}, 1)) - 1) * {16 ** (5 - p)}"
        for p in range(6)
    )
    return f"({terms})"


def det_uuid_duckdb_sql(i_sql: str) -> str:
    """UUID-shaped deterministic id: md5 hex grouped 8-4-4-4-12."""
    h = f"md5('{GEN_SEED}|sess|' || CAST({i_sql} AS VARCHAR))"
    return (
        f"substr({h},1,8) || '-' || substr({h},9,4) || '-' || "
        f"substr({h},13,4) || '-' || substr({h},17,4) || '-' || substr({h},21,12)"
    )


def _div_round_half_even(num: int, den: int) -> int:
    """Integer division rounded to nearest, ties to even — exactly what
    Python's ``timedelta / int`` does at microsecond resolution."""
    q, r = divmod(num, den)
    if 2 * r > den or (2 * r == den and q % 2 == 1):
        q += 1
    return q


def ff_schedule(
    n_target: int, days: int, rate: float | None = None
) -> tuple[int, int]:
    """``(step_us, n_events)`` of the reference producer's fast-forward
    clock (``produce_events.py:48-70``), bit-exact at the window edges:

    * ``FF_EVENTS_TARGET > 0`` → ``step = duration / target`` — Python
      timedelta division, i.e. nearest microsecond, ties to even (NOT
      truncation);
    * else → ``step = timedelta(seconds=1/rate)`` (same rounding);
    * the ``while t < end`` loop then yields ``ceil(duration / step)``
      events — when the rounded step does not divide the window this is
      NOT the target count (e.g. target 97 over 3 days yields 98).

    A 0-µs step (target > 2× the window in µs) would hang the
    reference's generator loop; we clamp to 1 µs and keep the ceil.
    Pinned against a literal Python twin of ``sim_timestamps()`` in
    ``tests/test_generator_clock.py``.
    """
    duration_us = days * 86_400_000_000
    if n_target > 0:
        step_us = _div_round_half_even(duration_us, n_target)
    else:
        import datetime as dt

        r = rate if rate and rate > 0 else 1.0
        # Literally the reference's rounding path: construct
        # timedelta(seconds=1/r) (which rounds the float seconds to
        # whole microseconds internally, round-half-even) and read the
        # microsecond count back out — bit-exact for ANY rate, where
        # round(1_000_000 / r) could differ by 1 µs in last-ulp cases.
        step_us = dt.timedelta(seconds=1.0 / r) // dt.timedelta(
            microseconds=1
        )
    step_us = max(step_us, 1)
    n_events = -(-duration_us // step_us)  # ceil: `while t < end`
    return step_us, n_events


def _det_select_sqls(start_date: str, step_us: int) -> list[str]:
    """One-parse SQL spelling of the deterministic generator's select
    list (r12, the fold_dot_sql lesson): a single ``selectExpr`` parse
    is ~2 ms, where the Column-DSL construction of these ten
    expressions cost ~0.2-0.3 s of py4j round-trips per query build.
    Its reference is the DuckDB spelling in
    :func:`gen_events_oracle_sql`, which the ``gen_synthetic_events``
    and ``kafka_payload_roundtrip`` oracles check it against."""

    def h(field: str) -> str:
        return f"md5(concat('{GEN_SEED}|{field}|', CAST(id AS STRING)))"

    def draw(field: str) -> str:
        return f"CAST(conv(substring({h(field)}, 1, 6), 16, 10) AS BIGINT)"

    def pick(field: str, values: tuple[str, ...]) -> str:
        arr = ", ".join(f"'{v}'" for v in values)
        idx = f"CAST(shiftright({draw(field)} * {len(values)}, {DRAW_BITS}) AS INT)"
        return f"element_at(array({arr}), {idx} + 1)"

    ts = (
        f"timestamp_micros(unix_micros(CAST('{start_date}' AS TIMESTAMP))"
        f" + id * {step_us})"
    )
    sess = h("sess")
    type_ladder = " ".join(
        f"WHEN {draw('type')} < {t} THEN '{v}'"
        for t, v in zip(TYPE_THRESHOLDS, EVENT_TYPES[:-1])
    )
    return [
        f'date_format({ts}, "yyyy-MM-dd\'T\'HH:mm:ss.SSSSSS\'Z\'")'
        " AS event_ts",
        f"concat('u_', CAST(shiftright({draw('user')} * {N_USERS},"
        f" {DRAW_BITS}) + 1 AS STRING)) AS user_id",
        f"concat_ws('-', substring({sess}, 1, 8), substring({sess}, 9, 4),"
        f" substring({sess}, 13, 4), substring({sess}, 17, 4),"
        f" substring({sess}, 21, 12)) AS session_id",
        f"CASE {type_ladder} ELSE '{EVENT_TYPES[-1]}' END AS event_type",
        f"{pick('page', PAGES)} AS page",
        f"concat('sku_', CAST(shiftright({draw('sku')} * {N_SKUS},"
        f" {DRAW_BITS}) + 1 AS STRING)) AS product_id",
        f"CASE WHEN {draw('type')} >= {PURCHASE_MIN_DRAW} THEN"
        f" (500 + shiftright({draw('price')} * {PRICE_CENT_SPAN},"
        f" {DRAW_BITS})) / CAST(100 AS DOUBLE) END AS price",
        "'USD' AS currency",
        f"{pick('ref', REFERRERS)} AS referrer",
        f"'{USER_AGENT}' AS user_agent",
    ]


def generate_events_batch_deterministic(
    spark: SparkSession,
    n_events: int,
    start_date: str = "2025-09-01",
    days: int = 7,
    num_partitions: int | None = None,
) -> DataFrame:
    """Reproducible fast-forward backfill: same schema/distributions as
    :func:`generate_events_batch`, draws derived from the row index.
    Scale shape is identical — ``spark.range`` slices, no shuffle, no
    driver loop; md5 + integer ops run inside whole-stage codegen.
    ``n_events`` is the FF_EVENTS_TARGET; actual count/step follow the
    reference edge semantics via :func:`ff_schedule`."""
    step_us, n_rows = ff_schedule(n_events, days)
    base = spark.range(
        0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism
    )
    return base.selectExpr(*_det_select_sqls(start_date, step_us))


def gen_events_oracle_sql(n_events: int, start_us: int, days: int) -> str:
    """DuckDB twin of :func:`generate_events_batch_deterministic` — the
    full event projection as one SELECT (no trailing semicolon), shared
    by the generator oracle and the Kafka round-trip oracle. Row count
    and step use the same :func:`ff_schedule` as the Spark side."""
    t0, t1, t2 = TYPE_THRESHOLDS
    step_us, n_rows = ff_schedule(n_events, days)
    pages = "[" + ", ".join(f"'{p}'" for p in PAGES) + "]"
    refs = "[" + ", ".join(f"'{r}'" for r in REFERRERS) + "]"
    return f"""
WITH base AS (SELECT CAST(i AS BIGINT) AS id FROM range(0, {n_rows}) t(i)),
d AS (
    SELECT id,
           {det_draw_duckdb_sql("type", "id")} AS d_type,
           {det_draw_duckdb_sql("user", "id")} AS d_user,
           {det_draw_duckdb_sql("sku", "id")} AS d_sku,
           {det_draw_duckdb_sql("page", "id")} AS d_page,
           {det_draw_duckdb_sql("ref", "id")} AS d_ref,
           {det_draw_duckdb_sql("price", "id")} AS d_price
    FROM base
)
SELECT strftime(make_timestamp({start_us} + id * {step_us}),
                '%Y-%m-%dT%H:%M:%S.%fZ') AS event_ts,
       'u_' || CAST(((d_user * {N_USERS}) >> {DRAW_BITS}) + 1 AS VARCHAR) AS user_id,
       {det_uuid_duckdb_sql("id")} AS session_id,
       CASE WHEN d_type < {t0} THEN '{EVENT_TYPES[0]}'
            WHEN d_type < {t1} THEN '{EVENT_TYPES[1]}'
            WHEN d_type < {t2} THEN '{EVENT_TYPES[2]}'
            ELSE '{EVENT_TYPES[3]}' END AS event_type,
       list_extract({pages}, CAST((d_page * {len(PAGES)}) >> {DRAW_BITS} AS INT) + 1) AS page,
       'sku_' || CAST(((d_sku * {N_SKUS}) >> {DRAW_BITS}) + 1 AS VARCHAR) AS product_id,
       CASE WHEN d_type >= {t2}
            THEN (500 + ((d_price * {PRICE_CENT_SPAN}) >> {DRAW_BITS})) / CAST(100 AS DOUBLE)
       END AS price,
       'USD' AS currency,
       list_extract({refs}, CAST((d_ref * {len(REFERRERS)}) >> {DRAW_BITS} AS INT) + 1) AS referrer,
       '{USER_AGENT}' AS user_agent
FROM d
"""


def generate_events_stream(
    spark: SparkSession, rows_per_second: int = 20, num_partitions: int = 1
) -> DataFrame:
    """Realtime mode: the ``rate`` source replaces the 50 ms sleep loop
    (produce_events.py:97-98); each micro-batch row becomes one event
    stamped with the rate-source timestamp."""
    base = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )
    return _events_from(base, F.col("timestamp"))
