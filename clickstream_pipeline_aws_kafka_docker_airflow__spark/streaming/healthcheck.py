"""Raw-zone freshness healthcheck (stream_healthcheck_freshness).

The reference lists today's S3 prefix and asserts at least one object
has ``LastModified >= now - 20 min``, exiting early on the first hit
(``ingest_healthcheck.py:11-33``). Spark equivalent: scan the day's
partition with the ``_metadata`` file column and ``limit(1)`` — the
``CollectLimit`` physical node short-circuits exactly like the early
return.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession, functions as F


def check_freshness(
    spark: SparkSession,
    raw_path: str,
    day: str | None = None,
    lookback_minutes: int = 20,  # INGEST_HEALTH_LOOKBACK_MIN default (:11)
    fmt: str = "json",
) -> bool:
    """True iff >=1 file under ``raw_path/date=<day>/`` was modified in
    the lookback window. Raises (AnalysisException) if the whole ROOT
    is missing — a misconfigured path must page differently than
    staleness; an empty/missing day partition is simply stale (False),
    matching the reference's fail path. Any other read failure (e.g. an
    unknown ``fmt``) raises.

    The read passes a trivial one-column schema: a schema-LESS json
    read would run full schema inference over the day partition at
    analysis time — a whole-day data scan for what the docstring
    promises is a metadata peek. With a schema, only the file LISTING
    happens before ``_metadata``+``limit(1)`` short-circuits."""
    import os

    day = day or dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    path = f"{raw_path}/date={day}"
    if not os.path.isdir(raw_path) and "://" not in raw_path:
        raise FileNotFoundError(f"raw zone root missing: {raw_path}")
    try:
        df = spark.read.format(fmt).schema("value STRING").load(path)
    except AnalysisException as e:
        # only an absent day partition is "stale"; any other failure (a
        # bad format, a permissions error) must propagate
        if (e.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        return False
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {lookback_minutes} MINUTES")
    fresh = df.select(
        F.col("_metadata.file_modification_time").alias("mtime")
    ).where(F.col("mtime") >= cutoff)
    # isEmpty() is the idiomatic short-circuit (scans until the first
    # qualifying file and stops) — no limit+collect round-trip
    return not fresh.isEmpty()
