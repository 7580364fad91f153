"""Streaming maintenance of the daily count-min zone — the incremental
half of ``queries/sketch_q.py::cms_range_topk``.

Exactly-once for an ADDITIVE sketch needs a different mechanism than
the HLL zone (sketch_zone.py): HLL union is register-wise max, so
replaying a batch that overwrites a day's cumulative sketch is
idempotent for free. CMS cells are SUMS — replaying an additive merge
would double-count. So this zone stores **batch-keyed delta layers**
(the micro-batch's cell deltas, partitioned by ``batch_id``): a
replayed micro-batch dynamically overwrites ITS OWN layer with
identical content, and serving sums across layers — at-least-once
delivery becomes exactly-once arithmetic. (Druid-style segments /
delta-layer ingestion, expressed in parquet partitions.)

Layers accumulate one per micro-batch; ``compact_cms_zone`` folds them
into a single layer (CMS linearity — same reason the day->range merge
works) so serving cost stays O(days * D * W) regardless of how many
micro-batches ever ran.

Compaction is CRASH-SAFE via an in-band manifest: each compacted
generation (batch_id = -1, -2, ... — a fresh negative id per
compaction, ids never reused) carries manifest rows (``s = -1``,
``b = <folded layer id>``) inside its own partition, so the "which
layers did I fold" record commits ATOMICALLY with the folded sums in
the same partition-overwrite job. Readers exclude (a) every layer id
named by any manifest row and (b) any negative layer carrying no
manifest rows (a compaction that crashed mid-write). Deleting folded
layer dirs is therefore pure garbage collection — a crash at ANY point
leaves estimates exact, and re-running compaction converges instead of
re-summing stale layers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import token_hash32_sql
from ..queries.sketch_q import CMSZ_D, CMSZ_W
from .upsert import overwrite_partitions

COMPACTED_LAYER = -1  # first compacted-generation id; later ones -2, -3, ...
MANIFEST_SLOT = -1  # s value marking in-band manifest rows
_MANIFEST_DT = ""  # dt sentinel on manifest rows (never a real date)


def _zone_state(zone: DataFrame):
    """Layer bookkeeping from the parquet zone: (visible ids, folded
    ids, uncommitted negative ids, manifest_of). ``manifest_of`` maps a
    compacted layer id -> the set of ids its in-band manifest folded.
    Tiny collects — one row per layer / manifest entry, bounded by the
    compaction cadence, never by data volume."""
    ids = {int(r["batch_id"]) for r in zone.select("batch_id").distinct().collect()}
    man = (
        zone.where(F.col("s") == MANIFEST_SLOT)
        .select("batch_id", "b")
        .collect()
    )
    manifest_of: dict[int, set[int]] = {}
    for r in man:
        manifest_of.setdefault(int(r["batch_id"]), set()).add(int(r["b"]))
    folded = set().union(*manifest_of.values()) if manifest_of else set()
    uncommitted = {i for i in ids if i < 0 and i not in manifest_of}
    visible = sorted(i for i in ids if i not in folded and i not in uncommitted)
    return visible, folded, uncommitted, manifest_of


def _visible_cells(zone: DataFrame) -> DataFrame:
    """Data cells of the visible layers only — folded layers (named by
    any manifest) and uncommitted compacted layers (negative id, no
    manifest rows — a crashed compaction) are excluded, so estimates
    are exact no matter where a previous compaction died."""
    visible, _, _, _ = _zone_state(zone)
    return zone.where(
        (F.col("s") != MANIFEST_SLOT) & F.col("batch_id").isin(visible)
    )


def _cells(events: DataFrame, ts_col: str, key_col: str) -> DataFrame:
    """(dt, s, b, cnt) cell deltas for one slice of events — the same
    seeded portable hash as the batch query, so zone-served estimates
    equal in-query ones."""
    counts = events.select(
        F.to_date(ts_col).cast("string").alias("dt"),
        F.col(key_col).cast("string").alias("key"),
    ).groupBy("dt", "key").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.select(
            "dt",
            F.explode(F.sequence(F.lit(0), F.lit(CMSZ_D - 1))).alias("s"),
            "key",
            "n",
        )
        .withColumn(
            "b",
            F.expr(token_hash32_sql("CONCAT(CAST(s AS STRING), '|', key)"))
            % CMSZ_W,
        )
        .groupBy("dt", "s", "b")
        .agg(F.sum("n").alias("cnt"))
    )


def start_cms_zone(
    stream_events: DataFrame,
    zone_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> StreamingQuery:
    """Fold the stream into batch-keyed CMS delta layers. Stateless —
    no watermark, no streaming aggregation state: each micro-batch's
    deltas are final, and late events simply land in a later layer
    (cells add, so lateness never needs retraction)."""

    def _layer(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cells = _cells(batch_df, ts_col, key_col)
        overwrite_partitions(
            cells.withColumn("batch_id", F.lit(batch_id)).repartition(1),
            zone_dir,
            "batch_id",
        )

    return (
        stream_events.writeStream.foreachBatch(_layer)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _gc_layers(
    spark: SparkSession,
    zone_dir: str,
    doomed: set[int],
    manifest_of: dict[int, set[int]],
) -> None:
    """Best-effort deletion of superseded layer dirs. Positive layers
    go first; a compacted (negative) layer dir is deleted only once
    every id ITS manifest folded is already gone — deleting it earlier
    would drop the exclusion record while the excluded dirs still
    exist, resurrecting them. Idempotent; a crash here only leaves
    garbage that the next compaction re-collects."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _path(b: int):
        return jvm.org.apache.hadoop.fs.Path(f"{zone_dir}/batch_id={b}")

    fs = _path(0).getFileSystem(hconf)
    for b in sorted(i for i in doomed if i >= 0):
        fs.delete(_path(b), True)
    for b in sorted(i for i in doomed if i < 0):
        if all(not fs.exists(_path(f)) for f in manifest_of.get(b, set())):
            fs.delete(_path(b), True)


def compact_cms_zone(spark: SparkSession, zone_dir: str) -> int:
    """Fold every visible delta layer into ONE new compacted layer
    (cell-wise sum — CMS linearity) whose partition also carries the
    manifest rows naming the folded layer ids, then garbage-collect the
    folded dirs. Returns the number of layers folded (0 when the zone
    is already a single compacted layer). Crash-safe at every point:
    the manifest commits atomically with the sums (same partition
    write), so readers never double-count and a re-run converges."""
    from .release import checkpoint_release_scope

    zone = spark.read.parquet(zone_dir)
    visible, folded, uncommitted, manifest_of = _zone_state(zone)
    stale = (folded | uncommitted) - set(visible)
    if len(visible) <= 1 and all(i < 0 for i in visible):
        # already compact — just finish any interrupted GC
        if stale:
            _gc_layers(spark, zone_dir, stale, manifest_of)
        return 0
    with checkpoint_release_scope(spark):
        return _compact_body(
            spark, zone_dir, zone, visible, stale, uncommitted, manifest_of
        )


def _compact_body(
    spark, zone_dir, zone, visible, stale, uncommitted, manifest_of
) -> int:
    new_id = min([i for i in manifest_of] + [i for i in uncommitted] + [0]) - 1
    merged = _visible_cells(zone).groupBy("dt", "s", "b").agg(
        F.sum("cnt").alias("cnt")
    )
    manifest = spark.createDataFrame(
        [(_MANIFEST_DT, MANIFEST_SLOT, int(i), 0) for i in visible],
        "dt string, s int, b bigint, cnt bigint",
    )
    out = (
        merged.unionByName(
            manifest.select(*[F.col(c).cast(t) for c, t in merged.dtypes])
        )
        .localCheckpoint()  # materialize before touching source files
    )
    overwrite_partitions(
        out.withColumn("batch_id", F.lit(new_id)).repartition(1),
        zone_dir,
        "batch_id",
    )
    # ---- commit point passed; everything below is garbage collection
    _gc_layers(
        spark,
        zone_dir,
        (stale | set(visible)) - {new_id},
        {**manifest_of, new_id: set(visible)},
    )
    return len(visible)


def estimates_from_zone(
    spark: SparkSession, zone_dir: str, keys: list[str], start_dt: str, end_dt: str
) -> DataFrame:
    """Point-query the zone: CMS estimates for the given keys over
    [start_dt, end_dt], summing cells across days AND layers, then
    min over the D rows. O(days * layers * D * W) cells scanned, no
    raw-event access. Only VISIBLE layers are summed — folded layers
    whose GC was interrupted and half-written compactions are excluded
    by the manifest, so a crash during compaction never inflates an
    estimate."""
    zone = spark.read.parquet(zone_dir)
    merged = (
        _visible_cells(zone)
        .where((F.col("dt") >= start_dt) & (F.col("dt") <= end_dt))
        .groupBy("s", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    kdf = spark.createDataFrame([(k,) for k in keys], "key string")
    probes = kdf.select(
        "key", F.explode(F.sequence(F.lit(0), F.lit(CMSZ_D - 1))).alias("s")
    ).withColumn(
        "b",
        F.expr(token_hash32_sql("CONCAT(CAST(s AS STRING), '|', key)")) % CMSZ_W,
    )
    return (
        probes.join(merged, ["s", "b"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est"))
    )
