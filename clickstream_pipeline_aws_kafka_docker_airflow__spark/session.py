"""SparkSession bootstrap tuned for this engine.

The reference pipeline executes every operator as single-threaded
row-at-a-time Python inside Airflow tasks
(``/root/reference/airflow/dags/daily_kpis.py:109-140``). Here the unit
of execution is a Spark plan; these confs make local runs mirror the
settings we would ship on a real cluster:

* AQE on (coalesce partitions, skew-join) — runtime re-planning is the
  100 TB answer to skewed keys and over-partitioned shuffles.
* UTC session timezone — the reference stores naive ISO-8601 UTC
  timestamps (``produce_events.py:35``); pinning UTC makes Spark's
  instant-based ``TimestampType`` arithmetic agree with naive-timestamp
  engines (DuckDB oracle) on ``to_date``/``date_trunc``.
* ``parquet.nanosAsLong`` — older driver testdata generations wrote
  ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark cannot read
  natively; with this conf the raw int64 is read and converted ns -> us
  in :func:`io.load_table` (current generations write timestamp[us],
  normalized from TIMESTAMP_NTZ in the same place — the conf is then
  inert but kept for backward compat).
"""

from __future__ import annotations

import contextlib
import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# sessions (by applicationId) whose non-empty SPARK_GRAFT_EXTRA_CONFS
# application has already been announced — the hook re-applies on every
# load_table, so logging each application would be noise, but NEVER
# logging means a stale env var inherited from a parent shell silently
# alters engine behavior in every query with no trace (ADVICE r8)
_EXTRA_CONFS_ANNOUNCED: set[str] = set()

# Confs that are safe to set on a *running* session (driver owns the
# session in the harness). All are runtime-settable SQLConfs.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # dims (region/nation/customer/supplier/part) stay broadcastable far
    # beyond sf0.1; at 100 TB only true dimension tables fit — facts never
    # cross this threshold because they arrive via scans, not literals.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime-settable engine confs to a session.

    Called from every loader/operator entry point so the engine behaves
    identically whether it created the session or was handed one. Every
    ENGINE_CONFS key is a runtime SQLConf, so a failure to set one
    raises instead of leaving the engine silently unconfigured.

    ``$SPARK_GRAFT_EXTRA_CONFS`` ("k=v;k=v") is re-applied LAST on
    every call: a deliberate deployment override (e.g. a broadcast
    threshold sized to a small executor heap) must survive the engine's
    own re-application, which otherwise silently clobbers it back to
    the defaults from inside every load_table — measured by the r8
    memory probe, whose per-tier threshold overrides were being undone
    query-by-query until this hook ran here rather than only at
    get_spark build time.

    Format limits: the separator is ';' and the FIRST '=' splits key
    from value, so a value may itself contain '=' (partition("=") keeps
    the remainder intact) but never ';'. A non-empty hook is logged
    once per session so an inherited stale env var leaves a trace.
    """
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)
    raw = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    if raw:
        app = spark.sparkContext.applicationId
        if app not in _EXTRA_CONFS_ANNOUNCED:
            _EXTRA_CONFS_ANNOUNCED.add(app)
            _log.warning(
                "applying SPARK_GRAFT_EXTRA_CONFS overrides: %s", raw
            )
    for kv in raw.split(";"):
        k, _, v = kv.partition("=")
        if k.strip():
            _set_unless_static(spark, k.strip(), v.strip())
    return spark


# what a live session raises for a core or static conf, which only the
# session builder can set
_BUILD_TIME_ONLY = ("CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG")


def _set_unless_static(spark: SparkSession, k: str, v: str) -> None:
    """Set a runtime conf; skip one that only the builder can set (the
    extras are also applied at build time), raise on anything else."""
    try:
        spark.conf.set(k, v)
    except AnalysisException as e:
        if e.getCondition() not in _BUILD_TIME_ONLY:
            raise


# Object-store (S3/s3a) conf surface — the cluster-deployment twin of
# the reference's boto3 writes (SSE-AES256 per object,
# ingest_clickstream_to_s3.py:74-79; daily_kpis.py:169-173). Not applied
# in the sandbox (no object store, no hadoop-aws jars); on a real
# cluster pass these at session build time together with
# --packages org.apache.hadoop:hadoop-aws.
#
# Committer note for 100 TB: the default FileOutputCommitter
# (rename-based) is both slow and UNSAFE on S3 — rename is a COPY per
# object and task-commit visibility is not atomic. The S3A "magic"
# committer writes data as incomplete multipart uploads and completes
# them only at job commit: zero-rename, atomic-enough task commits, and
# job-commit cost proportional to file COUNT, not bytes.
OBJECT_STORE_CONFS: dict[str, str] = {
    # SSE parity with the reference's ExtraArgs={"ServerSideEncryption": "AES256"}
    "spark.hadoop.fs.s3a.encryption.algorithm": "AES256",
    # zero-rename magic committer
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    # listing/scan behavior sized for hive-partitioned raw zones
    "spark.hadoop.fs.s3a.connection.maximum": "96",
    "spark.hadoop.fs.s3a.fast.upload": "true",
}


def object_store_builder_confs(
    builder, confs: dict[str, str] | None = None
):
    """Apply :data:`OBJECT_STORE_CONFS` to a SparkSession.Builder.

    Builder-time only: committer classes and fs.* settings are fixed at
    session start (unlike the runtime SQLConfs in ENGINE_CONFS)."""
    for k, v in (confs or OBJECT_STORE_CONFS).items():
        builder = builder.config(k, v)
    return builder


@contextlib.contextmanager
def temp_confs(spark: SparkSession, confs: dict[str, str]):
    """Set SQLConfs for the duration of a block, then restore the prior
    values (or unset keys that had none). Operators that need a special
    conf for one write (e.g. dynamic partition overwrite) must not leak
    it into a shared — possibly caller-owned — session and silently
    change the semantics of later unrelated writes."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, prior in saved.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)


def get_spark(
    app_name: str = "clickstream-spark-engine",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a local SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then all cores. Shuffle
    partitions default to 2x cores locally; on a real cluster this is
    instead sized so post-shuffle partitions land ~128-256 MB (AQE
    coalesce trims the excess either way).
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus * 2, 8))
    )
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    )
    builder = builder.config("spark.ui.enabled", "false")
    # Harness hook: $SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" lets perf probes
    # (scripts/scaling_curve.py) override split sizing per subprocess
    # without forking the session builder. Set at build time (for
    # static confs); apply_engine_confs re-applies it last, so an
    # override of an ENGINE_CONFS key sticks.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        k, _, v = kv.partition("=")
        if "=" in kv:
            builder = builder.config(k.strip(), v.strip())
    return apply_engine_confs(builder.getOrCreate())
