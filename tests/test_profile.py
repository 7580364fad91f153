"""The in-process profiler on the UI-off test session: exact job and
task counts and the post-AQE plan of the block it wraps."""

from __future__ import annotations

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table
from clickstream_pipeline_aws_kafka_docker_airflow__spark.memo import MEMO
from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import profile

from conftest import SF_SMOKE


def test_query_record_counts_jobs_tasks_and_final_plan(spark):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    q = registry.queries()["q3_shipping_priority"]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    with profile(spark) as rec:
        q(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    assert rec.jobs == dag.nextJobId() - j0 > 0
    assert len(rec.stage_table) == rec.stages
    assert [j["id"] for j in rec.job_table] == list(rec.job_ids)
    assert rec.totals["tasks"] > 0
    assert any("== Final Plan ==" in e["plan"] for e in rec.executions)


def test_memo_hit_records_no_jobs(spark):
    load_table(spark, SF_SMOKE, "lineitem")
    hits = MEMO.hits["table"]
    with profile(spark) as rec:
        load_table(spark, SF_SMOKE, "lineitem")
    assert MEMO.hits["table"] == hits + 1
    assert (rec.jobs, rec.stages, rec.executions) == (0, 0, [])
