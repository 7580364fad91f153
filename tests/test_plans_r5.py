"""Round-5 plan contracts: pin the fixed-cost cuts in the ANN serving
tiers (operators/pq.py, operators/similarity.py) so they cannot
silently regress.

Serving a prebuilt index must not repartition the corpus (widen() is
build-path-only now) and must not fold norms over the whole corpus —
the exact-rescore norm runs on post-join survivors only."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table
from clickstream_pipeline_aws_kafka_docker_airflow__spark.memo import MEMO
from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import (
    artifacts,
    projection,
    rankstats,
    similarity,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.plans.explain import (
    plan_facts,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries import (
    pq_q,
    similarity_q,
)

from conftest import SF_SMOKE

_Q = registry.queries()

_SERVING = [
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_ivfpq",
    "ann_topk_ivfpq_res",
]


def test_ann_serving_never_roundrobins_the_corpus(spark):
    """widen()'s round-robin repartition belongs to build passes (band
    signatures, code encoding, quantizer training). A serving query
    probes prebuilt artifacts through broadcast joins; a
    RoundRobinPartitioning exchange there is a full-corpus shuffle
    bought for nothing."""
    for name in _SERVING:
        f = plan_facts(_Q[name](spark, SF_SMOKE))
        assert "RoundRobinPartitioning" not in f.text, (name, f.text)


def test_ann_serving_keeps_query_state_broadcast(spark):
    """Probe lists, LUTs, candidate ids and query vectors are
    query-sized: they must ride broadcast exchanges, never a
    sort-merge join of the corpus against itself."""
    for name in _SERVING:
        f = plan_facts(_Q[name](spark, SF_SMOKE))
        assert f.broadcast_joins >= 1, (name, f.text)
        assert f.sortmerge_joins == 0, (name, f.text)


def test_repetition_score_is_shuffle_free(spark):
    """A per-document metric must not shuffle the corpus: the max gram
    multiplicity comes from a sorted-array run-length fold inside one
    projection — scan + project (the earlier two-groupBy spelling
    shuffled every gram string twice). The ONE permitted exchange is
    widen()'s round-robin repartition of the raw scan (r8: a
    one-row-group layout scans as a single task at any core count;
    no-op at production split counts) — never a hash/range shuffle of
    gram strings."""
    f = plan_facts(_Q["repetition_score"](spark, SF_SMOKE))
    assert f.exchanges <= 1, f.text
    if f.exchanges == 1:
        assert "roundrobin" in f.text.lower(), f.text
        assert "hashpartitioning" not in f.text.lower(), f.text
    assert f.python_evals == 0


def test_query_vector_slice_collected_once_per_plan(spark):
    """collect_query_vectors memoizes per (application, plan, data, n):
    two calls against the same corpus must hit the memo (no second
    Spark job)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = similarity.collect_query_vectors(emb, 5)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    hits = MEMO.hits["query_vectors"]
    again = similarity.collect_query_vectors(
        load_table(spark, SF_SMOKE, "embeddings"), 5
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert again == first
    assert after == before, "cache miss ran a Spark job"
    assert MEMO.hits["query_vectors"] == hits + 1, "slice not memoized"


def test_query_vector_cache_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting the parquet at the SAME path within one application
    must not serve stale vectors: the key folds in per-file
    (mtime_ns, size), so a rewrite is a different key."""
    src = f"{SF_SMOKE}/embeddings.parquet"
    dst = str(tmp_path / "embeddings.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    first = similarity.collect_query_vectors(spark.read.parquet(dst), 3)
    misses = MEMO.misses["query_vectors"]

    # rewrite in place: drop the first vector so the slice changes
    rewritten = spark.read.parquet(dst).where("vec_id >= 1").toPandas()
    spark.createDataFrame(rewritten).write.mode("overwrite").parquet(dst)

    second = similarity.collect_query_vectors(spark.read.parquet(dst), 3)
    assert MEMO.misses["query_vectors"] == misses + 1, (
        "rewrite did not change the memo key"
    )
    assert [i for i, _ in second] == [1, 2], second
    assert [i for i, _ in first] == [0, 1, 2], first


def test_query_vector_cache_is_bounded(spark, monkeypatch):
    """LRU bound: the memo never grows past its capacity, however many
    distinct slices are collected."""
    monkeypatch.setattr(MEMO, "capacity", 4)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    for n in range(1, MEMO.capacity + 5):
        similarity.collect_query_vectors(emb, n)
    assert len(MEMO) <= MEMO.capacity
    assert len(MEMO.entries("query_vectors")) <= MEMO.capacity


def _emb(spark, d):
    # memoized itself: a fresh read would run a footer/schema job
    return load_table(spark, d, "embeddings")


def _cuts(df):
    dims = [("q", F.col("vec_id").cast("double"))]
    return rankstats.ntile_cuts_multi(df, 4, dims, "vec_id")


# memo kind -> (call(spark, sf_dir), call on a frame with no file
# lineage, or None where the site is keyed on a path)
_MEMO_SITES = {
    "table": (_emb, None),
    "artifact": (
        lambda spark, d: artifacts.materialized(
            spark, f"{d}/embeddings.parquet", "memo_probe",
            lambda: _emb(spark, d).select("vec_id"),
        ),
        None,
    ),
    "query_vectors": (
        lambda spark, d: similarity.collect_query_vectors(_emb(spark, d), 3),
        lambda df: similarity.collect_query_vectors(df, 3),
    ),
    "pca": (
        lambda spark, d: projection.pca_components(_emb(spark, d)),
        projection.pca_components,
    ),
    "cuts": (lambda spark, d: _cuts(_emb(spark, d)), _cuts),
    "quantizer": (similarity_q._quantizer_cached, None),
    "pq_books": (pq_q._res_books_cached, None),
}


@pytest.mark.parametrize("kind", list(_MEMO_SITES))
def test_memo_site_hits_invalidates_and_stays_bounded(
    spark, tmp_path, monkeypatch, kind
):
    """Every memo call site: a second call is a hit that runs no Spark
    job; a parquet rewritten in place at the same path misses; the
    store never holds more than its capacity; and a frame with no file
    lineage is never memoized."""
    call, call_unkeyed = _MEMO_SITES[kind]
    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    monkeypatch.setattr(MEMO, "capacity", 4)
    d = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, d)
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    first = call(spark, d)
    hits, misses, n_jobs = MEMO.hits[kind], MEMO.misses[kind], jobs()
    again = call(spark, d)
    assert again is first
    assert (MEMO.hits[kind], MEMO.misses[kind]) == (hits + 1, misses)
    assert jobs() == n_jobs, "memo hit ran a Spark job"

    # rewrite in place: same path, one vector fewer
    path = f"{d}/embeddings.parquet"
    kept = spark.read.parquet(path).where("vec_id >= 1").toPandas()
    spark.createDataFrame(kept).write.mode("overwrite").parquet(path)
    call(spark, d)
    assert MEMO.misses[kind] == misses + 1, "rewrite served the stale entry"
    assert len(MEMO) <= MEMO.capacity

    if call_unkeyed is not None:
        local = spark.createDataFrame(kept)
        n_entries = len(MEMO.entries(kind))
        call_unkeyed(local)
        call_unkeyed(local)
        assert MEMO.misses[kind] == misses + 3
        assert len(MEMO.entries(kind)) == n_entries


