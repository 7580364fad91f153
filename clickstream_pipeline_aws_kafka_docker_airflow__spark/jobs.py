"""spark-submit job entry points — the units the orchestrator schedules.

One function per reference DAG task:

* :func:`run_ingest`       <- consume_and_upload (ingest_clickstream_to_s3.py:7-81)
* :func:`run_daily_kpis`   <- compute_kpis        (daily_kpis.py:142-174)
* :func:`run_healthcheck`  <- check_recent_ingest (ingest_healthcheck.py:11-33)

plus :func:`resolve_run_date`, the reference's four-step run-date
precedence (daily_kpis.py:46-77): explicit conf -> $RUN_DATE -> the
orchestrator's logical date -> today in $CLICKSTREAM_TZ.
"""

from __future__ import annotations

import datetime as dt
import os
import zoneinfo

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession, functions as F

from .io import write_kpis_parquet
from .operators.kpis import daily_kpis
from .session import temp_confs
from .sources.jsonl import read_jsonl_drop_malformed
from .streaming import healthcheck as hc
from .streaming.ingest import start_ingest
from .streaming.upsert import overwrite_partitions


def _parse_date_any(s: str) -> dt.date | None:
    """Python twin of functions.scalars.parse_date_multi — YYYY-MM-DD or
    full ISO-8601, quotes/space trimmed, None when unparseable."""
    s = (s or "").strip().strip("\"'")
    if not s:
        return None
    for parse in (
        lambda x: dt.datetime.strptime(x, "%Y-%m-%d"),
        dt.datetime.fromisoformat,
    ):
        try:
            return parse(s).date()
        except ValueError:
            continue
    return None


def resolve_run_date(
    conf_run_date: str | None = None,
    logical_date: dt.datetime | None = None,
    env: dict[str, str] | None = None,
) -> str:
    """daily_kpis.py:46-77 precedence, returned as 'YYYY-MM-DD'."""
    env = os.environ if env is None else env
    for candidate in (conf_run_date, env.get("RUN_DATE")):
        parsed = _parse_date_any(candidate) if candidate else None
        if parsed:
            return parsed.isoformat()
    if logical_date is not None:
        return logical_date.date().isoformat()
    tz = zoneinfo.ZoneInfo(env.get("CLICKSTREAM_TZ", "UTC"))
    return dt.datetime.now(tz).date().isoformat()


def run_ingest(
    spark: SparkSession,
    source_stream,
    raw_path: str,
    checkpoint_dir: str,
    window_seconds: int | None = None,
) -> None:
    """One orchestrated ingest run. ``window_seconds=None`` drains the
    source and stops (Trigger.AvailableNow — the batch-per-run shape);
    a value runs the reference's fixed-cadence micro-batch loop."""
    trigger = (
        {"availableNow": True}
        if window_seconds is None
        else {"processingTime": f"{window_seconds} seconds"}
    )
    q = start_ingest(source_stream, raw_path, checkpoint_dir, trigger=trigger)
    if window_seconds is None:
        q.awaitTermination()
    # cadenced mode: caller owns the query lifecycle


def run_daily_kpis(
    spark: SparkSession,
    raw_path: str,
    kpi_path: str,
    run_date: str | None = None,
) -> str:
    """Read one day's raw partition, aggregate, write the KPI zone.
    Returns the reference's NO_INPUT marker when the partition is empty
    (daily_kpis.py:157-159)."""
    day = resolve_run_date(run_date)
    try:
        # Read the ZONE ROOT, not the day subdirectory: when the raw
        # zone is a Structured Streaming file sink, the root carries a
        # _spark_metadata commit log and the batch read lists COMMITTED
        # files from it — orphaned data files from a micro-batch that
        # crashed before its manifest commit are invisible, preserving
        # the sink's exactly-once guarantee end-to-end. A subdirectory
        # read would bypass the log (plain file listing) and
        # double-count replayed batches. The partition filter prunes
        # the scan to the day either way; on a non-sink layout (no
        # log) this is an ordinary partitioned read.
        events = read_jsonl_drop_malformed(spark, raw_path).where(
            F.col("date") == day
        )
    except AnalysisException as e:
        # only a missing zone root is NO_INPUT (the reference's
        # empty-listing guard, daily_kpis.py:155-159); corrupt files,
        # permission errors etc. must propagate, not masquerade as an
        # empty day
        if (e.getCondition() or "") == "PATH_NOT_FOUND":
            return "NO_INPUT"
        raise
    parsed = events.withColumn("ts", F.to_timestamp("event_ts"))
    kpis = (
        daily_kpis(
            parsed, ts="ts", user="user_id", session="session_id",
            etype="event_type", price="price",
        )
        .withColumn("dt", F.col("dt").cast("string"))
        .where(F.col("dt") == day)
    )
    if kpis.isEmpty():
        return "NO_INPUT"
    write_kpis_parquet(kpis, kpi_path)
    return "OK"


def run_kpi_backfill(
    spark: SparkSession,
    raw_path: str,
    kpi_path: str,
    start_date: str,
    end_date: str,
) -> dict[str, int]:
    """Rebuild the KPI zone for a date RANGE in ONE job — the Spark
    answer to the reference's 16-concurrent-day-DAG-runs backfill
    (daily_kpis.py:186-188): read every ``date=`` partition in
    [start, end], aggregate all days in a single groupBy(dt), and
    dynamically overwrite exactly the day partitions present. One scan
    and one shuffle replace N scheduler-coordinated day jobs; day-level
    parallelism comes from the shuffle, not the orchestrator.

    Returns {"days_written": n}. Missing day partitions in the range
    simply contribute no rows (same NO_INPUT semantics per day as
    :func:`run_daily_kpis`); a fully-empty range writes nothing.

    Plan hygiene: ONE read of the zone ROOT with a partition-pruning
    ``date IN (...)`` filter (absent days prune to nothing — no
    per-day existence probes, no O(days) union chain), and the
    aggregated frame is locally checkpointed so the empty-check, the
    write, and the day count all read the materialized rows — the
    scan and shuffle run exactly once. Reading the root (not the
    partition subdirs) also engages the file sink's _spark_metadata
    commit log when the zone was written by Structured Streaming, so
    orphaned files from a crashed micro-batch never double-count
    (see run_daily_kpis).
    """
    days = _date_seq(start_date, end_date)
    try:
        events = read_jsonl_drop_malformed(spark, raw_path).where(
            F.col("date").isin(days)
        )
    except AnalysisException as e:
        if (e.getCondition() or "") == "PATH_NOT_FOUND":
            return {"days_written": 0}
        raise
    parsed = events.withColumn("ts", F.to_timestamp("event_ts"))
    kpis = (
        daily_kpis(
            parsed, ts="ts", user="user_id", session="session_id",
            etype="event_type", price="price",
        )
        .withColumn("dt", F.col("dt").cast("string"))
        .where(F.col("dt").isin(days))
        .localCheckpoint()
    )
    n_days = kpis.select("dt").distinct().count()
    if n_days == 0:
        return {"days_written": 0}
    write_kpis_parquet(kpis, kpi_path)
    return {"days_written": n_days}


def run_sketch_backfill(
    spark: SparkSession,
    raw_path: str,
    zone_path: str,
    start_date: str,
    end_date: str,
) -> dict[str, int]:
    """Rebuild the daily-sketch zone for a date RANGE from raw — the
    repair path for data later than the streaming watermark (the
    streaming maintainer correctly drops it; this job folds it back
    in). Same one-scan shape as :func:`run_kpi_backfill`: one root
    read pruned to the requested days, one groupBy(dt)
    building exact full-day sketches, dynamic overwrite of exactly
    those day partitions. A rebuilt day's registers equal what an
    unbounded-watermark stream would have produced (HLL is
    duplicate-insensitive and order-free), so stream + backfill
    compose without a merge step."""
    from .streaming.sketch_zone import SKETCH_LG_K

    days = _date_seq(start_date, end_date)
    try:
        events = read_jsonl_drop_malformed(spark, raw_path).where(
            F.col("date").isin(days)
        )
    except AnalysisException as e:
        if (e.getCondition() or "") == "PATH_NOT_FOUND":
            return {"days_written": 0}
        raise
    daily = (
        events.withColumn("ts", F.to_timestamp("event_ts"))
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").cast("string").alias("dt"))
        .agg(F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk"))
        .where(F.col("dt").isin(days))
        .localCheckpoint()
    )
    n_days = daily.count()
    if n_days == 0:
        return {"days_written": 0}
    overwrite_partitions(daily.repartition(1), zone_path, "dt")
    return {"days_written": n_days}


def _date_seq(start_date: str, end_date: str) -> list[str]:
    d0, d1 = dt.date.fromisoformat(start_date), dt.date.fromisoformat(end_date)
    if d1 < d0:
        raise ValueError(f"backfill range reversed: {start_date}..{end_date}")
    return [
        (d0 + dt.timedelta(days=i)).isoformat()
        for i in range((d1 - d0).days + 1)
    ]


def run_corpus_curation(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """Materialize the curation pipeline's two products as parquet
    zones: the curated training slice (``curated_docs``, the
    corpus_curation composite — quality floor, dup-canonical, train
    slice, contamination ceiling) and the per-source keep/drop verdicts
    (``source_stats``). Returns the written row counts, read back from
    the zones (the written files, not the plan, are the ground truth a
    scheduler should log).

    Scale: both writes repartition only at the sink; every stage's
    shuffle shape is documented on its operator. The job is a pure
    function of the input tables — re-running overwrites the zones
    with identical content, so retries are idempotent.
    """
    from .queries.curation_q import corpus_curation, source_curation_stats
    from .queries.pipeline_q import dedup_clusters
    from .queries.text_q import quality_score

    # both products consume the same heavy stages — compute the dup
    # labels (full MinHash + iterative CC) and quality scores ONCE,
    # materialized, instead of once per product. The label/quality
    # frames are one narrow row per doc — cheap to checkpoint at any
    # scale relative to re-deriving them.
    clusters = dedup_clusters(spark, sf_dir).localCheckpoint()
    quality = quality_score(spark, sf_dir).localCheckpoint()

    docs_zone = f"{out_dir}/curated_docs"
    stats_zone = f"{out_dir}/source_stats"
    corpus_curation(
        spark, sf_dir, quality=quality, clusters=clusters
    ).write.mode("overwrite").parquet(docs_zone)
    source_curation_stats(
        spark, sf_dir, quality=quality, clusters=clusters
    ).write.mode("overwrite").parquet(stats_zone)
    return {
        "curated_docs": spark.read.parquet(docs_zone).count(),
        "kept_sources": spark.read.parquet(stats_zone)
        .where(F.col("keep_source"))
        .count(),
    }


def run_build_corpus_artifacts(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The index-build job: eagerly materialize every build-once table
    the query tier consumes — near-dup pair list, cluster labels,
    contamination screen, sign-LSH band index, PQ code table, and the
    IVF quantizer + inverted file. A scheduler runs this once per
    corpus snapshot (upstream of curation/search); queries then only
    read. Returns row counts per artifact for run logging.

    Idempotent: artifacts are keyed on snapshot identity, so re-running
    on an unchanged snapshot reads instead of rebuilding.
    """
    from .operators.dedup import SIMHASH_BITS, SIMHASH_ND_BITS
    from .queries.dedup_q import shingles_table, simhash_fps_table
    from .queries.pipeline_q import (
        cluster_labels_table,
        contamination_table,
        dup_pairs_table,
    )
    from .queries.pq_q import pq_codes_table
    from .queries.similarity_q import (
        _quantizer_cached,
        ivf_cells_table,
        lsh_bands_table,
    )

    counts = {
        "shingles": shingles_table(spark, sf_dir).count(),
        "simhash_fps32": simhash_fps_table(spark, sf_dir, SIMHASH_BITS).count(),
        "simhash_fps60": simhash_fps_table(spark, sf_dir, SIMHASH_ND_BITS).count(),
        "dup_pairs": dup_pairs_table(spark, sf_dir).count(),
        "cluster_labels": cluster_labels_table(spark, sf_dir).count(),
        "contamination": contamination_table(spark, sf_dir).count(),
        "lsh_bands": lsh_bands_table(spark, sf_dir).count(),
        "pq_codes": pq_codes_table(spark, sf_dir).count(),
    }
    from .queries.pq_q import ivfpq_index_table

    cents = _quantizer_cached(spark, sf_dir)
    counts["ivf_centroids"] = len(cents)
    counts["ivf_cells"] = ivf_cells_table(spark, sf_dir, cents).count()
    counts["ivfpq_index"] = ivfpq_index_table(spark, sf_dir).count()
    from .queries.pq_q import ivfpq_res_index_table, pq_res_codes_table

    counts["pq_res_codes"] = pq_res_codes_table(spark, sf_dir).count()
    counts["ivfpq_res_index"] = ivfpq_res_index_table(spark, sf_dir).count()
    from .queries.dedup_q import ppjoin_shingle_pairs
    from .queries.graph_q import keyword_textrank
    from .queries.text_q import inverted_index_table

    counts["ppjoin_pairs"] = ppjoin_shingle_pairs(spark, sf_dir).count()
    counts["inverted_index"] = inverted_index_table(spark, sf_dir).count()
    counts["textrank_keywords"] = keyword_textrank(spark, sf_dir).count()
    from .queries.dedup_q import ngram_pairs_table
    from .queries.training_q import semantic_dedup_table

    counts["ngram_pairs"] = ngram_pairs_table(spark, sf_dir).count()
    counts["semdedup"] = semantic_dedup_table(spark, sf_dir).count()
    from .queries.sketch_q import cms_daily_zone_table

    counts["cms_daily_zone"] = cms_daily_zone_table(spark, sf_dir).count()
    from .queries.dedup_q import simhash_pairs_table

    counts["simhash_pairs"] = simhash_pairs_table(spark, sf_dir).count()
    return counts


def run_sketch_zone(
    spark: SparkSession,
    raw_path: str,
    zone_path: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> None:
    """Maintain the daily distinct-users HLL sketch zone from the raw
    zone (streaming/sketch_zone.py): one drain per scheduled run
    (Trigger.AvailableNow, same batch-per-run shape as ``run_ingest``).
    Each run folds newly landed raw files into the per-day sketches;
    any later range-distinct query reads O(days) sketch rows via
    ``range_distinct_from_zone`` instead of re-scanning raw events."""
    from .schemas import CLICKSTREAM_EVENT_RAW
    from .streaming.sketch_zone import start_sketch_zone

    stream = (
        spark.readStream.schema(CLICKSTREAM_EVENT_RAW)
        .option("mode", "DROPMALFORMED")
        .json(raw_path)
        .withColumn("ts", F.to_timestamp("event_ts"))
        .where(F.col("ts").isNotNull())
        .select("ts", "user_id")
    )
    q = start_sketch_zone(
        stream, zone_path, checkpoint_dir, watermark=watermark
    )
    q.awaitTermination()


def run_healthcheck(spark: SparkSession, raw_path: str, lookback_minutes: int = 20) -> None:
    """Freshness gate: raise if no raw file landed in the lookback
    window (ingest_healthcheck.py:30-33 fail path)."""
    if not hc.check_freshness(spark, raw_path, lookback_minutes=lookback_minutes):
        raise RuntimeError(
            f"no fresh ingest under {raw_path} in the last {lookback_minutes} min"
        )


def _delete_partition_dirs(
    spark: SparkSession,
    zone_path: str,
    tuples: list[tuple],
    partition_cols: tuple[str, ...],
) -> None:
    """Delete partition directories by tuple — the GC tail of
    :func:`run_user_erasure`, a seam the crash-injection tests patch."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for tup in tuples:
        seg = "/".join(f"{c}={v}" for c, v in zip(partition_cols, tup))
        p = jvm.org.apache.hadoop.fs.Path(f"{zone_path}/{seg}")
        p.getFileSystem(hconf).delete(p, True)


def run_user_erasure(
    spark: SparkSession,
    zone_path: str,
    user_ids: list,
    user_col: str = "user_id",
    partition_cols: tuple[str, ...] = ("date", "hour"),
    fmt: str = "parquet",
) -> dict[str, int]:
    """Right-to-be-forgotten sweep over a partitioned zone: remove every
    row belonging to a listed user, rewriting ONLY the partitions that
    contain one. Three stages, each partition-bounded:

    1. probe — broadcast semi-join finds the affected partition tuples
       (the scan reads only the user + partition columns);
    2. rewrite — the affected partitions are re-read under a literal
       partition filter (pruned scan), anti-joined against the
       broadcast list, localCheckpointed (the zone cannot be overwritten
       while it is still being lazily read), and dynamically
       overwritten — untouched partitions keep their files byte-for-byte;
    3. clear — a partition whose every row belonged to listed users
       produces no overwrite data, so its directory is deleted
       explicitly (dynamic overwrite only replaces partitions it
       writes).

    Returns ``{"rows_erased", "partitions_rewritten",
    "partitions_cleared"}``. At 100 TB the deletion list is requests
    (tiny), and cost scales with affected partitions, not zone size.
    """
    import functools

    from pyspark.sql.types import StructField, StructType

    from .operators.lifecycle import affected_partitions

    zone = spark.read.format(fmt).load(zone_path)
    utype = zone.schema[user_col].dataType
    del_df = spark.createDataFrame(
        [(u,) for u in user_ids], StructType([StructField(user_col, utype)])
    )
    affected = [tuple(r) for r in affected_partitions(zone, del_df, user_col, partition_cols).collect()]
    if not affected:
        return {"rows_erased": 0, "partitions_rewritten": 0, "partitions_cleared": 0}

    pfilter = functools.reduce(
        lambda x, y: x | y,
        [
            functools.reduce(
                lambda x, y: x & y,
                [F.col(c) == F.lit(v) for c, v in zip(partition_cols, tup)],
            )
            for tup in affected
        ],
    )
    scoped = zone.where(pfilter)
    n_before = scoped.count()
    survivors = scoped.join(
        F.broadcast(del_df.select(user_col).distinct()), user_col, "left_anti"
    ).localCheckpoint()
    n_after = survivors.count()
    # format-generic and keyed on several columns: not overwrite_partitions
    with temp_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            survivors.write.partitionBy(*partition_cols)
            .mode("overwrite")
            .format(fmt)
            .save(zone_path)
        )
    surviving_parts = {
        tuple(str(v) for v in r)
        for r in survivors.select(*partition_cols).distinct().collect()
    }
    cleared = [
        tup for tup in affected if tuple(str(v) for v in tup) not in surviving_parts
    ]
    # ---- commit point passed (dynamic overwrite replaced every
    # partition with survivors); clearing the all-erased dirs below is
    # re-runnable cleanup — a crash in this window leaves those
    # partitions' old files visible, and a re-run's probe finds the
    # same users again and converges (tests/test_lifecycle.py).
    _delete_partition_dirs(spark, zone_path, cleared, partition_cols)
    return {
        "rows_erased": n_before - n_after,
        "partitions_rewritten": len(affected) - len(cleared),
        "partitions_cleared": len(cleared),
    }
