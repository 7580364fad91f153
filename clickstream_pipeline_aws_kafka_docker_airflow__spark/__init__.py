"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference clickstream pipeline
(``CanUmurAkman/Clickstream-Pipeline-AWS-Kafka-Docker-Airflow-``),
re-expressed Spark-first and extended with LLM-data-pipeline operators.

Layout:
    session.py   SparkSession bootstrap + engine confs
    schemas.py   explicit StructTypes (clickstream event, star schema)
    io.py        table loaders + partitioned sinks
    memo.py      the one driver-side memo (bounded LRU, data-identity keys)
    functions/   scalar/text/vector Column builders (no Python UDFs)
    operators/   batch operators (KPIs, relational, dedup, similarity...)
    sources/     Kafka / JSONL / synthetic-generator sources
    streaming/   Structured Streaming jobs (ingest, sessionization)
    plans/       explain/plan-inspection helpers + scale notes
"""

__version__ = "0.1.0"
