"""Table loaders and partitioned sinks.

Read side replaces the reference's hand-rolled S3 listing + lazy JSONL
generator (``/root/reference/airflow/dags/daily_kpis.py:82-107``) with
Spark datasource scans: partition discovery, predicate pushdown and
column pruning are free from Catalyst.

Write side replaces the reference's bucket-dict + one-PUT-per-bucket
sink (``ingest_clickstream_to_s3.py:27-51,65-80``) with
``partitionBy`` writes — same layout (hive-style ``date=/hour=``), but
parallel and atomic per task.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .memo import MEMO, file_key
from .session import apply_engine_confs
from .streaming.upsert import overwrite_partitions

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table as a DataFrame, memoized per
    application + file identity (``memo.file_key``): what the memo saves
    is the driver-side datasource resolution (file listing, footer and
    schema read) that otherwise recurs once per query x table.

    ``events.ts`` has shipped in two parquet physical types across
    driver testdata generations; normalize both to a session-TZ
    ``TIMESTAMP`` so every downstream query sees one type:

    * ``timestamp[ns]`` (read as raw int64 via
      ``spark.sql.legacy.parquet.nanosAsLong``) -> ``ts div 1000``
      floors to microseconds exactly like DuckDB's ns->us truncation;
    * ``timestamp[us]`` (read as TIMESTAMP_NTZ) -> cast to TIMESTAMP.
      The session timezone is pinned to UTC (session.py), so the cast
      is a pure type relabel — wall-clock fields are unchanged and
      oracle parity with DuckDB (which treats it as naive-UTC) holds.
    """
    apply_engine_confs(spark)
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    return MEMO.get("table", file_key(spark, path), read)


def write_jsonl_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("date", "hour"),
    mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned JSONL sink — the raw-zone layout of the reference
    (``raw/clickstream/date=YYYY-MM-DD/hour=HH/*.jsonl``,
    ingest_clickstream_to_s3.py:59-81).

    At scale: repartition by the partition columns first so each
    (date,hour) bucket is written by few tasks -> few large files instead
    of tasks x partitions small files (the classic small-file problem).
    """
    writer = df.repartition(*[F.col(c) for c in partition_cols]).write
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).mode(mode).json(path)


def write_kpis_parquet(df: DataFrame, path: str, partition_col: str = "dt") -> None:
    """KPI-zone sink: Parquet (Spark's default snappy codec) partitioned
    by run date, the ``kpis/daily/dt=YYYY-MM-DD/kpis.parquet`` layout of
    daily_kpis.py:165-173.

    Overwrite is DYNAMIC (scoped to this write): the reference's day-run
    rewrites only ``kpis/daily/dt=<day>/`` — under the default static
    mode a day-N run would delete every other day's partition, and the
    mirrored DAG's catchup backfill (16 concurrent day-runs,
    daily_kpis.py:187-188) would race full-zone overwrites and lose data.
    """
    overwrite_partitions(
        df.repartition(F.col(partition_col)), path, partition_col
    )
