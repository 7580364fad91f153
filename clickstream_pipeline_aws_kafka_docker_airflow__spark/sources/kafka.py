"""Kafka source/sink builders (src_kafka_consume / sink_kafka_produce).

The reference consumes with confluent-kafka in a wall-clock poll loop,
committing offsets by hand at-least-once
(``ingest_clickstream_to_s3.py:8-31,53-57``) and produces with a
BufferError retry loop (``produce_events.py:85-95``). On Spark both
concerns disappear into the framework: checkpointed offsets give
exactly-once into file sinks (strictly stronger than the reference —
documented in streaming/ingest.py), and the Kafka sink handles
backpressure natively.

No broker exists in the test environment; these builders are exercised
in tests via their unstreamed option dicts and via file-source
stand-ins (tests/test_streaming.py). ``spark-sql-kafka`` must be on the
classpath in a real deployment (--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEFAULT_TOPIC = "clickstream.events"  # produce_events.py:10

#: The EXACT frame `spark.read/readStream.format("kafka").load()`
#: emits (KafkaRecordToRowConverter in spark-sql-kafka-0-10): field
#: names, types, and order are fixed by the connector, not by us.
#: Everything downstream (consume_projection, the recorded-segment
#: fixture, the ingest tests) is pinned to this schema so a stand-in
#: frame cannot drift from what a real broker read would deliver.
KAFKA_SOURCE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)

#: Same with `includeHeaders=true` — headers append as the 8th field.
KAFKA_SOURCE_SCHEMA_HEADERS = StructType(
    KAFKA_SOURCE_SCHEMA.fields
    + [
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType()),
                        StructField("value", BinaryType()),
                    ]
                )
            ),
        )
    ]
)


def consume_projection(raw: DataFrame) -> DataFrame:
    """First projection over the Kafka source frame: utf-8 decode the
    value bytes, keep the event metadata (topic/partition/offset/
    broker timestamp) the downstream ingest partitions and audits by.
    Raises TypeError immediately if ``raw`` does not carry the
    connector's frame — the guard that keeps file-source stand-ins
    honest."""
    got = {f.name: f.dataType for f in raw.schema.fields}
    for f in KAFKA_SOURCE_SCHEMA.fields:
        if got.get(f.name) != f.dataType:
            raise TypeError(
                f"not a Kafka source frame: field {f.name!r} is "
                f"{got.get(f.name)}, connector emits {f.dataType}"
            )
    return raw.select(
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "earliest",  # auto.offset.reset=earliest (:19)
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # at-least-once poll loop tolerated data loss on repartition;
        # we fail fast instead and document the difference.
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(spark: SparkSession, bootstrap_servers: str, **kw) -> DataFrame:
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, **kw).items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka_batch(spark: SparkSession, bootstrap_servers: str, **kw) -> DataFrame:
    """Bounded read of whatever is currently in the topic — the batch
    analog of the reference's fixed-window consume."""
    opts = kafka_source_options(bootstrap_servers, **kw)
    opts.setdefault("endingOffsets", "latest")
    reader = spark.read.format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def to_kafka_payload(df: DataFrame, keep_null_fields: bool = True) -> DataFrame:
    """Serialize all columns to one JSON object per message
    (produce_events.py:82): ``value = to_json(struct(*))``.

    ``keep_null_fields`` matches the reference payload shape exactly:
    ``json.dumps`` emits ``"price": null`` on non-purchases
    (produce_events.py:34,41), while Spark's ``to_json`` default DROPS
    null fields — a consumer asserting all 10 keys would break on the
    default. Field order follows the DataFrame columns, which mirror
    the producer's dict insertion order (schemas.CLICKSTREAM_EVENT_RAW).
    """
    opts = {"ignoreNullFields": "false"} if keep_null_fields else {}
    return df.select(F.to_json(F.struct(*df.columns), opts).alias("value"))


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on this session's
    classpath. The test env ships no connector jar (the recorded-
    segment fixtures stand in for the wire); tests gate on this so the
    real-connector paths light up automatically in any environment
    that does ship it (``--packages org.apache.spark:spark-sql-kafka-
    0-10_2.13:<ver>`` or a jars/ drop-in)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False
