from __future__ import annotations

import contextlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def state_layout(checkpoint_dir: str) -> tuple[str, list[int]]:
    """A stateful stream's checkpoint: the shuffle-partition count its
    latest offset-log entry pins, and the state-partition dirs of its
    (single) stateful operator."""
    offsets = os.path.join(checkpoint_dir, "offsets")
    last = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, last)) as f:
        meta = json.loads(f.read().splitlines()[1])
    state = os.path.join(checkpoint_dir, "state", "0")
    parts = sorted(int(p) for p in os.listdir(state) if p.isdigit())
    return meta["conf"]["spark.sql.shuffle.partitions"], parts


@contextlib.contextmanager
def state_partitions_from_session(spark, n: int):
    """Start partition-keyed streams with the session's state-partition
    count, set to ``n`` — how a checkpoint made before the
    one-state-partition start was laid out."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import (
        temp_confs,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming import (
        upsert,
    )

    with pytest.MonkeyPatch.context() as m, temp_confs(
        spark, {"spark.sql.shuffle.partitions": str(n)}
    ):
        m.setattr(
            upsert,
            "start_partition_keyed",
            lambda sdf, fn, ck: upsert._update_writer(sdf, fn, ck).start(),
        )
        yield
