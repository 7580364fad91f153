"""Lake-maintenance operators: small-file compaction, clustered
(sort-ordered) rewrites, and incremental partition-overwrite rebuilds.

None of these exist in the reference (it writes one JSONL object per
micro-batch per bucket and never revisits them —
``ingest_clickstream_to_s3.py:65-80``), but every real deployment of
this pipeline grows a small-file problem at the raw zone and needs
day-level rebuilds that don't rewrite the whole KPI zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.upsert import overwrite_partitions

TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_partitioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_cols: list[str],
    fmt: str = "json",
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> None:
    """Rewrite a partitioned dataset with file counts sized by data
    volume: ~one file per ``target_file_bytes`` per partition instead of
    one file per micro-batch per partition. At the raw zone this is the
    periodic job that keeps scan planning O(partitions), not O(batches).
    """
    import os
    from urllib.parse import urlparse

    df = spark.read.format(fmt).load(src_path)
    total_bytes = 0
    for f in df.inputFiles():
        p = urlparse(f).path or f
        try:
            total_bytes += os.path.getsize(p)
        except OSError:
            pass  # non-local store: fall back to file count heuristic
    if total_bytes == 0:
        total_bytes = len(df.inputFiles()) * target_file_bytes
    n_files = max(1, int(total_bytes // target_file_bytes) + (total_bytes % target_file_bytes > 0))
    (
        df.repartition(n_files, *[F.col(c) for c in partition_cols])
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .format(fmt)
        .save(dst_path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    range_col: str,
    cluster_cols: list[str],
    n_files: int = 8,
) -> None:
    """Range-partition by ``range_col`` then sort files by
    ``cluster_cols``: every output file covers a narrow min/max band of
    the sort keys, so parquet row-group statistics prune aggressively —
    the poor-man's Z-order, exact for one leading dimension and still
    helpful for the rest of the sort key."""
    (
        df.repartitionByRange(n_files, F.col(range_col))
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def overwrite_day_partition(
    spark: SparkSession, kpis: DataFrame, kpi_path: str, partition_col: str = "dt"
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``kpis``, leaving sibling days' files untouched — the day-level
    rebuild the reference does by re-running one Airflow day-run
    (daily_kpis.py:186-188), without rewriting the zone. The conf is
    scoped to this write — a shared session keeps its prior overwrite
    semantics."""
    overwrite_partitions(
        kpis.repartition(F.col(partition_col)), kpi_path, partition_col
    )


def vacuum_date_partitions(
    spark: SparkSession,
    path: str,
    cutoff_date: str,
    partition_col: str = "date",
    dry_run: bool = True,
) -> list[str]:
    """Retention sweep: list — and with ``dry_run=False`` delete — the
    ``{partition_col}=<day>`` directories strictly OLDER than
    ``cutoff_date`` (ISO dates compare lexicographically, so this is a
    plain string compare on the partition value). The raw zone's
    companion to Kafka's 24h retention (docker-compose.yml:32): without
    it the ingest zone grows forever.

    Defaults to dry-run — the caller sees exactly which partitions a
    real run would remove. Uses the Hadoop FileSystem API, so the same
    code serves file:// in tests and s3a:// in production. Returns the
    affected partition paths, sorted.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return []
    doomed = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(f"{partition_col}="):
            continue
        if name.split("=", 1)[1] < cutoff_date:
            doomed.append(str(st.getPath()))
    if not dry_run:
        for p in doomed:
            fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
    return sorted(doomed)


ZORDER_BITS = 16


def release_query_caches(spark: SparkSession) -> int:
    """Dataset-switch cache hygiene for long-lived sessions.

    Nine query-path ``persist()`` sites ship without a paired
    ``unpersist`` by design (see ``tests/test_cache_census.py`` for
    the adjudicated census): each pinned frame is bounded (users,
    sources x langs, histogram rows, batch-candidate pairs) and the
    CacheManager dedupes repeat calls on plan identity, so WITHIN one
    dataset the footprint is a constant number of small frames. The
    accretion hazard is ACROSS datasets — a session that touches many
    sf dirs / batches accumulates one entry set per source identity
    and relies on LRU eviction; evicting a pin mid-plan re-triggers
    the duplicated recompute the pin exists to avoid. Drivers that
    iterate datasets (scale probes, multi-sf benches) should call this
    at each dataset boundary.

    Scope: clears Spark's CacheManager (the ``persist()`` pins) only.
    The driver-side memo (``memo.MEMO``) is intentionally NOT cleared:
    its keys embed the source-file identity (path+mtime+size), so a
    dataset switch misses rather than poisons, and it is LRU-bounded.
    ``localCheckpoint`` blocks held by streaming zones are likewise
    out of scope — ``catalog.clearCache()`` does not release them
    (they are reclaimed by the zones' explicit release / GC path).

    Returns the number of CacheManager-held RDDs actually released:
    the storage-info delta across ``clearCache()``, not the raw
    pre-clear count (which would overcount by any live checkpoint
    blocks in soak-style sessions)."""
    sc = spark.sparkContext
    n_before = len(sc._jsc.sc().getRDDStorageInfo())
    spark.catalog.clearCache()
    n_after = len(sc._jsc.sc().getRDDStorageInfo())
    return n_before - n_after


def morton_key(a: F.Column | str, b: F.Column | str, bits: int = ZORDER_BITS) -> F.Column:
    """Interleave the low ``bits`` of two non-negative integer columns
    into one Z-order (Morton) key: bit i of ``a`` lands at position
    2i+1, bit i of ``b`` at 2i. Sorting by the key gives a space-
    filling-curve order in which file-level min/max ranges stay narrow
    in BOTH dimensions — unlike a lexicographic sort, whose trailing
    column spans its full range in every file."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a, b = a.cast("long"), b.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return key


def _hash_representatives(df: DataFrame, n: int) -> list[int]:
    """For each partition index ``p`` in ``[0, n)``, find a small integer
    whose Spark ``hash()`` (Murmur3, fixed seed) lands in partition ``p``
    under ``pmod(hash(x), n)``. Routing rows through these representative
    values makes ``repartition(n, col)`` an EXACT partitioner — each
    distinct routed value owns one partition, with no sampled boundaries.
    One tiny Spark job over ``64 * n`` candidates; deterministic."""
    cand = (
        df.sparkSession.range(64 * n)
        .select(F.col("id"), F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("p"))
        .groupBy("p")
        .agg(F.min("id").alias("rep"))
        .collect()
    )
    reps: dict[int, int] = {int(r["p"]): int(r["rep"]) for r in cand}
    if len(reps) < n:  # pragma: no cover - 64x oversampling makes this ~impossible
        raise RuntimeError(f"hash probe covered {len(reps)}/{n} partitions; widen search")
    return [reps[p] for p in range(n)]


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = ZORDER_BITS,
) -> None:
    """Rewrite a table in Z-order over two integer-scalable columns:
    each column is min/max-normalized to ``bits``-bit grid coordinates
    (one tiny agg pass), rows are Morton-interleaved, and each output
    file is exactly ONE aligned Z-curve tile of the (col_a, col_b)
    plane, so its parquet footer min/max covers at most ``1/2^ceil(k/2)``
    of either dimension (k = log2(n_files)). Footer statistics then
    prune files for selective predicates on EITHER column — the layout
    a 100 TB events table wants when queries filter by user_id on some
    days and by date on others. (The single-dimension variant is
    :func:`write_clustered`.)

    Tile→file routing is deterministic: the tile id (the top ``k`` bits
    of the Morton key) is mapped through a hash-representative value so
    ``repartition`` places each tile in its own partition exactly —
    unlike range-partitioning on the raw key, whose sampled boundaries
    can leave a file straddling a curve seam and spanning the full
    range of one dimension. Skewed data yields uneven (never impure)
    files; ``n_files`` is rounded up to a power of two."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    span = (1 << bits) - 1

    def _grid(c: str, lo, hi) -> F.Column:
        if hi == lo:
            return F.lit(0).cast("long")
        return F.least(
            F.lit(span).cast("long"),
            F.floor(
                (F.col(c).cast("double") - float(lo))
                / (float(hi) - float(lo))
                * span
            ).cast("long"),
        )

    tile_bits = max(1, (n_files - 1).bit_length())
    n_tiles = 1 << tile_bits
    reps = _hash_representatives(df, n_tiles)
    zkey = morton_key(_grid(col_a, lo_a, hi_a), _grid(col_b, lo_b, hi_b), bits)
    tile = F.shiftright(F.col("_z"), 2 * bits - tile_bits)
    route = F.element_at(F.array(*[F.lit(r).cast("int") for r in reps]), (tile + 1).cast("int"))
    (
        df.withColumn("_z", zkey)
        .withColumn("_route", route)
        .repartition(n_tiles, F.col("_route"))
        .sortWithinPartitions("_z")
        .drop("_z", "_route")
        .write.mode("overwrite")
        .parquet(path)
    )
