"""Exact distributed order statistics without a global window.

``NTILE(n) OVER (ORDER BY ...)`` — the RFM-quartile shape
(reference: the segmentation cut a marketing pipeline layers on the
daily KPIs, daily_kpis.py's purchase semantics) — is exact rank
arithmetic, but Spark's physical plan for an unpartitioned window is a
SINGLE-PARTITION sort: every row moves to one reducer, the one shape
that grows with the corpus and cannot survive a 100x scale-up. This
module computes the same bucket ids with no WindowExec at all:

1. ``repartitionByRange`` on the full ordering key — partition p holds
   a contiguous key range, ranges ascending with p (sampling pass +
   one shuffle, all parallel).
2. ``sortWithinPartitions`` by the same key, then
   ``monotonically_increasing_id()`` ABOVE the sort: the id is
   ``pid << 33 | local_index`` assigned in output order, so
   ``id & (2^33-1)`` IS the 0-based local rank. The id expression is
   nondeterministic, which pins it above the sort (Catalyst never
   reorders nondeterministic projections across a sort).
3. Per-partition row counts, turned into per-partition rank offsets
   and the global total by a partitions x partitions broadcast
   self-join (bounded by the partition count, never the data), joined
   back broadcast. ``global rank = offset + local rank + 1``.
4. ``NTILE`` from rank arithmetic: with ``q = n div t`` and
   ``r = n mod t``, buckets ``1..r`` hold ``q+1`` rows and the rest
   ``q`` — integer expressions only, bit-exact with the window
   function for every n (including n < t, where the else branch's
   ``div q`` is unreachable so q=0 never divides).

The ordering key must be a TOTAL order (append a unique tie-break
column, as the SQL ntile oracle does) — with duplicate full keys the
range partitioner may split a tie group across partitions and the
local ranks of equal rows would be arbitrary. All rfm callers
tie-break on user_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vectors import is_plain_name
from ..memo import MEMO, frame_key

_LOCAL_MASK = (1 << 33) - 1

def _ntile_from_rank(rank: Column, n: Column, tiles: int) -> Column:
    """Bucket id for 1-based ``rank`` of ``n`` rows, NTILE(tiles)
    semantics: first ``n % tiles`` buckets get ``n div tiles + 1``
    rows, the rest ``n div tiles``. ``ceil(a/b) = (a+b-1) div b`` on
    positive ints keeps everything in integer land."""
    t = F.lit(tiles)

    def idiv(a: Column, b: Column) -> Column:
        # exact integer floor-div for non-negative a: (a - a%b) is an
        # exact multiple of b, so the double division is exact below
        # 2^53 rows — no float-rounding knife edge in bucket ids
        return ((a - a % b) / b).cast("bigint")

    # sizes: head buckets (1..r) have q+1 rows where q = n div t, r = n % t
    qq = idiv(n, t)
    r = n % t
    head_rows = r * (qq + 1)
    in_head = rank <= head_rows
    head_bucket = idiv(rank + qq, qq + 1)  # ceil(rank/(q+1))
    tail_bucket = r + idiv(rank - head_rows + qq - 1, qq)
    return F.when(in_head, head_bucket).otherwise(tail_bucket)


def _counts_row(ranged: DataFrame) -> DataFrame:
    """One-row frame carrying every range-partition's row count as a
    (pid, c) struct list — the offset table, bounded by the partition
    count. Collected list + ``F.aggregate`` beats a P x P self-join
    (one broadcast job instead of two) and beats a window over the
    counts (which would be an unpartitioned WindowExec, the exact
    shape this module exists to eliminate)."""
    return (
        ranged.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_pc"))
        .agg(F.collect_list(F.struct("_pid", "_pc")).alias("_cl"))
    )


def _offset_for(pid: Column) -> Column:
    """Rows in range partitions strictly before ``pid`` (reads the
    ``_cl`` list from ``_counts_row``)."""
    return F.aggregate(
        F.filter(F.col("_cl"), lambda s: s["_pid"] < pid),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc + s["_pc"],
    )


def _total() -> Column:
    """Total rows across every range partition (same ``_cl`` list)."""
    return F.aggregate(
        F.col("_cl"),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc + s["_pc"],
    )


def exact_ntile(
    df: DataFrame,
    tiles: int,
    order_by: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + column ``out_col`` = NTILE(tiles) OVER (ORDER BY
    order_by), computed with range partitioning + rank arithmetic —
    no WindowExec, no single-partition sort. ``order_by`` must
    totally order the rows (give a unique tie-break)."""
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = df.repartitionByRange(n_part, *order_by)
    # persist() pins ONE materialization of the ranged+sorted frame:
    # the ranks branch and the counts branch BOTH read the same
    # InMemoryRelation (same RDD, same sampled range boundaries, same
    # pids). Without it the two branches are only deduplicated by
    # exchange REUSE — an optimization, not a guarantee — and when it
    # does not fire each branch samples its own boundaries and the
    # offsets table misaligns with the ranks (caught by the sf1 audit:
    # NTILE(4) emitting buckets 0 and 5). Bounded: the frame is the
    # already-reduced input (user-level), never the corpus.
    local = (
        ranged.sortWithinPartitions(*order_by)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)))
        # persist() intentionally has NO paired unpersist: cache
        # substitution happens at EXECUTION time, so releasing an
        # earlier frame before its consuming plan has run would let the
        # ranks and counts branches recompute (and re-sample range
        # boundaries) independently — the exact misalignment this pin
        # exists to prevent. The footprint is one user-level frame per
        # call, evicted under pressure; a long-lived server that knows
        # a result is fully consumed may unpersist it explicitly.
        .persist()
    )
    rank = _offset_for(F.col("_pid")) + F.col("_lrn") + 1
    return (
        local.crossJoin(F.broadcast(_counts_row(local)))
        .withColumn(
            out_col, _ntile_from_rank(rank, _total(), tiles).cast("bigint")
        )
        .drop("_mid", "_pid", "_lrn", "_cl")
    )


def exact_ntile_multi(
    df: DataFrame,
    tiles: int,
    dims: list[tuple[str, Column]],
    tie_break: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """All of ``NTILE(tiles) OVER (ORDER BY k_i, tie_break)`` for
    several orderings in ONE range shuffle: each dim contributes a
    DOUBLE sort key (caller normalizes — negate for DESC, coalesce to
    ``inf`` for NULLS LAST; exact while distinct key values stay
    distinct as doubles, e.g. day counts, event counts, 2-dp money
    under 2^53), rows explode to (dim, key) pairs sorted by
    ``(dim, key, tie_break)``, and per-dim rank = global rank -
    (dim-1) * n_rows since the dim blocks are contiguous. One sample
    pass + one shuffle + one pivot groupBy instead of ``len(dims)``
    sorts — and still no WindowExec anywhere.

    ``tie_break`` must be unique per row (total order within every
    dim). Returns ``df`` + one bigint bucket column per dim name.
    """
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    base_cols = df.columns
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i + 1).cast("int").alias("_dim"),
                    key.cast("double").alias("_k"),
                )
                for i, (_, key) in enumerate(dims)
            ]
        )
    )
    ex = df.select(*base_cols, pairs.alias("_e")).select(
        *base_cols, F.col("_e._dim").alias("_dim"), F.col("_e._k").alias("_k")
    )
    order = [F.asc("_dim"), F.asc("_k"), F.asc(tie_break)]
    ranged = ex.repartitionByRange(n_part, *order)
    # persist(): see exact_ntile — the counts branch must read the SAME
    # materialized partitioning as the ranks branch, by reference, not
    # by exchange-reuse luck
    local = (
        ranged.sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit(_LOCAL_MASK)))
        # persist() intentionally has NO paired unpersist: cache
        # substitution happens at EXECUTION time, so releasing an
        # earlier frame before its consuming plan has run would let the
        # ranks and counts branches recompute (and re-sample range
        # boundaries) independently — the exact misalignment this pin
        # exists to prevent. The footprint is one user-level frame per
        # call, evicted under pressure; a long-lived server that knows
        # a result is fully consumed may unpersist it explicitly.
        .persist()
    )
    grank = _offset_for(F.col("_pid")) + F.col("_lrn") + 1
    n_rows = _total() / F.lit(len(dims))  # exact: every row emits len(dims) pairs
    bucketed = (
        local.crossJoin(F.broadcast(_counts_row(local)))
        .withColumn("_n1", n_rows.cast("bigint"))
        .withColumn(
            "_rank_in_dim",
            (grank - (F.col("_dim").cast("bigint") - 1) * F.col("_n1")),
        )
        .withColumn(
            "_bucket",
            _ntile_from_rank(
                F.col("_rank_in_dim"), F.col("_n1"), tiles
            ).cast("bigint"),
        )
    )
    # pivot the dim rows back to one row per input row: group on every
    # original column (tie_break alone determines the group)
    return bucketed.groupBy(*base_cols).agg(
        *[
            F.max(F.when(F.col("_dim") == i + 1, F.col("_bucket"))).alias(name)
            for i, (name, _) in enumerate(dims)
        ]
    )


def _skinny_ranged(
    df: DataFrame, dims: list[tuple[str, Column]], tie_break: str, n_part: int
) -> DataFrame:
    """SKINNY exploded frame for cut derivation: only (tie_break, _dim,
    _k) — never the caller's full row width — range-partitioned and
    locally sorted on the composite ordering, with ``_mid`` carrying
    (partition id << 33 | 0-based local rank) so a global rank maps to
    one ``_mid`` key once per-partition counts are known. Exposed (vs
    inlined) so the plan contract — rangepartitioning, zero WindowExec —
    stays testable after the cuts collapse to driver literals in the
    consuming query's final plan."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i + 1).cast("int").alias("_dim"),
                    key.cast("double").alias("_k"),
                )
                for i, (_, key) in enumerate(dims)
            ]
        )
    )
    skinny = df.select(F.col(tie_break).alias("_tb"), pairs.alias("_e")).select(
        "_tb", F.col("_e._dim").alias("_dim"), F.col("_e._k").alias("_k")
    )
    order = [F.asc("_dim"), F.asc("_k"), F.asc("_tb")]
    return (
        skinny.repartitionByRange(n_part, *order)
        .sortWithinPartitions(*order)
        # nondeterministic, so pinned above the sort (see module doc)
        .withColumn("_mid", F.monotonically_increasing_id())
    )


def _cut_ranks(n: int, tiles: int) -> list[int]:
    """Cumulative 1-based ranks of the last row of buckets 1..tiles-1
    under NTILE sizing (first n%tiles buckets hold n//tiles + 1 rows):
    b_j = j*q + min(j, r). Duplicate ranks (n < tiles) are correct —
    they make the trailing buckets empty, which the strict-less cut
    count reproduces."""
    q, r = divmod(n, tiles)
    return [j * q + min(j, r) for j in range(1, tiles)]


def ntile_cuts_multi(
    df: DataFrame,
    tiles: int,
    dims: list[tuple[str, Column]],
    tie_break: str,
    num_partitions: int | None = None,
    fingerprint_frame: DataFrame | None = None,
) -> list[list[tuple[float, object]]]:
    """EXACT per-dim NTILE cut rows — for each dim the (key, tie_break)
    composite at cumulative ranks b_1..b_{tiles-1} — derived with range
    partitioning + per-partition counts, no WindowExec, and collected
    to the driver (bounded: dims x (tiles-1) rows, never data-sized).

    Three bounded jobs: (1) the range partitioner's sample pass, (2)
    per-partition counts over the skinny exploded frame (32-ish rows
    collected), (3) a cached-read filter picking the <= dims*(tiles-1)
    cut rows by ``_mid``. Memoized per source-file identity, so a
    second call in the same session (bench second pass, repeated
    serving) is free. Keys must be NaN-free doubles (callers coalesce /
    negate; rfm's are) — NaN sorts greatest but compares unequal, which
    would desync derivation from assignment.

    ``fingerprint_frame``: source-file identity for the memo key is
    read from this frame when given, else from ``df``. Needed when
    ``df`` is persisted — ``inputFiles()`` walks the OPTIMIZED plan,
    where the CacheManager has already substituted InMemoryRelation
    for the cached aggregate (no FileRelation leaf -> empty
    fingerprint -> no memoization). Pass the raw source scan (e.g. the
    events ``load_table`` frame); ``df.semanticHash()`` still keys the
    aggregation plan itself (analyzed plan, pre-substitution)."""
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    base = frame_key(df if fingerprint_frame is None else fingerprint_frame)
    key = None
    if base is not None:
        # Key the dim expressions SEMANTICALLY, not by display name:
        # two calls with identical names but different key Columns
        # (a sign flip, a different coalesce sentinel) must not
        # collide on stale cuts. select().semanticHash() canonicalizes
        # the analyzed expressions without running a job.
        key = (
            *base,
            df.semanticHash(),
            tiles,
            tuple(name for name, _ in dims),
            df.select(
                *[k.alias(f"_k{i}") for i, (_, k) in enumerate(dims)]
            ).semanticHash(),
            tie_break,
            n_part,
        )
    return MEMO.get(
        "cuts", key, lambda: _derive_cuts(df, tiles, dims, tie_break, n_part)
    )


def _derive_cuts(
    df: DataFrame,
    tiles: int,
    dims: list[tuple[str, Column]],
    tie_break: str,
    n_part: int,
) -> list[list[tuple[float, object]]]:
    # try/finally: the persist pins monotonically_increasing_id between
    # the counts job and the _mid-keyed filter; release it on EVERY exit
    # (fully consumed — cuts are driver literals — unlike the exact_ntile
    # persists whose consumers run later).
    ranged = _skinny_ranged(df, dims, tie_break, n_part).persist()
    try:
        counts = sorted(
            (int(r["_pid"]), int(r["_pc"]))
            for r in ranged.groupBy(F.shiftright("_mid", 33).alias("_pid"))
            .agg(F.count(F.lit(1)).alias("_pc"))
            .collect()
        )
        total = sum(c for _, c in counts)
        n = total // len(dims)  # exact: every row emits len(dims) pairs
        if n == 0:
            return [[] for _ in dims]

        offsets: dict[int, int] = {}
        acc = 0
        for pid, c in counts:
            offsets[pid] = acc
            acc += c

        def mid_of(global_rank: int) -> int:
            for pid, c in counts:
                if global_rank <= offsets[pid] + c:
                    return (pid << 33) | (global_rank - offsets[pid] - 1)
            raise AssertionError(f"rank {global_rank} beyond {total} rows")

        bs = _cut_ranks(n, tiles)
        targets = [
            mid_of(d * n + b) for d in range(len(dims)) for b in bs
        ]
        by_mid = {
            int(r["_mid"]): (float(r["_k"]), r["_tb"])
            for r in ranged.where(F.col("_mid").isin(targets))
            .select("_mid", "_k", "_tb")
            .collect()
        }
    finally:
        ranged.unpersist()
    return [
        [by_mid[mid_of(d * n + b)] for b in bs] for d in range(len(dims))
    ]


def exact_ntile_broadcast(
    df: DataFrame,
    tiles: int,
    dims: list[tuple[str, Column]],
    tie_break: str,
    num_partitions: int | None = None,
    fingerprint_frame: DataFrame | None = None,
) -> DataFrame:
    """All of ``NTILE(tiles) OVER (ORDER BY k_i, tie_break)`` as pure
    broadcast-literal comparisons: derive the exact cut composites once
    (:func:`ntile_cuts_multi`, bounded driver state), then assign
    ``bucket = 1 + #{cuts strictly below the row}`` — for a total order
    ``cut_j < row  <=>  b_j < rank(row)``, so the count is exactly
    ``bucket - 1``, including empty trailing buckets when n < tiles.

    vs :func:`exact_ntile_multi` (the r8 shape): no wide explode, no
    persist of the full-width frame, and no pivot groupBy over every
    base column — the assignment is a shuffle-free projection, so the
    consuming plan adds ZERO exchanges to the input frame's own. The
    skinny derivation cost is paid once per (source identity, dims) and
    memoized. Same total-order requirement: ``tie_break`` unique per
    row, keys NaN-free."""
    cuts = ntile_cuts_multi(
        df, tiles, dims, tie_break, num_partitions, fingerprint_frame
    )
    out = df
    # the fast path's temp column must never shadow (and then drop) a
    # caller column; Spark resolves names case-insensitively
    taken = {c.lower() for c in df.columns} | {n.lower() for n, _ in dims}
    for (name, key), dim_cuts in zip(dims, cuts):
        # single-parse SQL fast path (r12, the fold_dot_sql lesson):
        # the per-cut Column-DSL comparison ladder cost ~12 py4j
        # round-trips per cut — tiles x dims of them per build. When
        # every cut composite renders to an exact SQL literal and the
        # dim name and tie-break are plain identifiers, the ladder is ONE
        # parse; otherwise the DSL twin below runs (pinned equivalent
        # by tests/test_plans_rankstats.py::
        # test_broadcast_sql_ladder_matches_dsl).
        lits = [
            (_double_literal_sql(ck), _tb_literal_sql(ctb))
            for ck, ctb in dim_cuts
        ]
        if (
            is_plain_name(name)
            and is_plain_name(tie_break)
            and all(a is not None and b is not None for a, b in lits)
        ):
            tmp = f"_k_{name}"
            while tmp.lower() in taken:
                tmp = f"_{tmp}"
            terms = " + ".join(
                f"(CASE WHEN {a} < `{tmp}` OR ({a} = `{tmp}`"
                f" AND {b} < `{tie_break}`) THEN 1 ELSE 0 END)"
                for a, b in lits
            )
            # an empty frame derives zero cuts: the ladder is just 1
            bucket = f"CAST(1 + {terms} AS BIGINT)" if terms else "CAST(1 AS BIGINT)"
            out = (
                out.withColumn(tmp, key.cast("double"))
                .withColumn(name, F.expr(bucket))
                .drop(tmp)
            )
            continue
        k = key.cast("double")
        expr = F.lit(1).cast("bigint")
        for ck, ctb in dim_cuts:
            below = (F.lit(ck) < k) | (
                (F.lit(ck) == k) & (F.lit(ctb) < F.col(tie_break))
            )
            expr = expr + F.when(below, 1).otherwise(0)
        out = out.withColumn(name, expr.cast("bigint"))
    return out


def _double_literal_sql(v) -> str | None:
    """Exact SQL spelling of a float cut value, or None when the value
    has no safe literal form (fast-path guard). CAST('repr' AS DOUBLE)
    round-trips float64 exactly (repr is shortest-round-trip, the
    parse is correctly rounded — same contract as similarity.py's
    plane literals)."""
    import math

    if isinstance(v, bool) or not isinstance(v, float):
        return None
    if math.isnan(v):
        return None  # NaN-free contract; never fast-path it
    if math.isinf(v):
        return f"double('{'-' if v < 0 else ''}Infinity')"
    return f"CAST('{v!r}' AS DOUBLE)"


def _tb_literal_sql(v) -> str | None:
    """SQL literal for a tie-break value: exact ints only (strings and
    floats fall back to the DSL path — quoting/precision edge cases
    are not worth guarding here)."""
    if isinstance(v, bool) or not isinstance(v, int):
        return None
    return str(v)
