"""Recall@k of the ANN paths (sign-LSH, IVF, k-means-refined IVF)
against exact brute-force cosine on the driver embeddings — the
accuracy/cost report every ANN deployment needs before trusting the
approximate path at scale."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickstream_pipeline_aws_kafka_docker_airflow__spark.functions.vectors import (
    dot,
    norm,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table
from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.similarity import (
    ann_topk_bucketed,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.01"  # 500 vectors: meaningful recall stats
N_QUERIES = 20
K = 5

# Stated floors, measured on the driver testdata (UNCLUSTERED 64-dim
# embeddings — the hard case for ANN: neighbors are only weakly more
# sign/cell-correlated than random vectors). Clustered-data recall,
# where ANN actually operates, is asserted in tests/test_dedup.py.
FLOOR_LSH = 0.25
FLOOR_IVF = 0.50
REFINE_TOLERANCE = 0.10  # refined quantizer within this of raw seeds


def _exact_topk(emb):
    base = emb.select("vec_id", "embedding", norm("embedding").alias("nrm"))
    q = base.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(dot("qv", "embedding") / (F.col("qn") * F.col("nrm")), 4).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= K)


def _pairs(df):
    return {(r["qid"], r["nid"]) for r in df.select("qid", "nid").collect()}


def test_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    truth = _pairs(_exact_topk(emb))
    assert len(truth) == N_QUERIES * K

    lsh = _pairs(ann_topk_bucketed(emb, N_QUERIES, K))
    ivf_raw = _pairs(ivf_topk(emb, N_QUERIES, K, n_iters=0))
    ivf_ref = _pairs(ivf_topk(emb, N_QUERIES, K))

    r_lsh = len(lsh & truth) / len(truth)
    r_raw = len(ivf_raw & truth) / len(truth)
    r_ref = len(ivf_ref & truth) / len(truth)
    print(
        f"\nrecall@{K} over {N_QUERIES} queries: "
        f"lsh={r_lsh:.2f} ivf_raw={r_raw:.2f} ivf_refined={r_ref:.2f}"
    )
    assert r_lsh >= FLOOR_LSH
    assert r_ref >= FLOOR_IVF
    # on uniform data refinement is recall-neutral (cells are arbitrary
    # either way); it must stay within tolerance of the raw seeds. Its
    # real win — centroids converging onto true clusters — is asserted
    # on constructed clusters in test_dedup.py.
    assert r_ref >= r_raw - REFINE_TOLERANCE


def test_quantizer_persists_and_reproduces(spark, tmp_path, monkeypatch):
    """Train-once-reuse-everywhere: the quantizer artifact read back
    from parquet equals the freshly trained centroids bit for bit
    (float64 round-trips parquet exactly), gives identical search
    results, and its build writes only under ARTIFACT_ROOT."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import load_table
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import artifacts
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.similarity import (
        ivf_topk,
        kmeans_centroid_list,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.similarity_q import (
        _quantizer_cached,
    )

    root = str(tmp_path / "artifacts")
    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", root)
    written, parquet = [], DataFrameWriter.parquet

    def record(self, path, *a, **kw):
        written.append(path)
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    emb = load_table(spark, SF_DIR, "embeddings")
    loaded = _quantizer_cached(spark, SF_DIR)
    assert written and all(p.startswith(root + os.sep) for p in written), written
    assert loaded == kmeans_centroid_list(emb)
    fresh = {
        (r["qid"], r["nid"], r["sim"])
        for r in ivf_topk(emb, 10, 5).collect()
    }
    reused = {
        (r["qid"], r["nid"], r["sim"])
        for r in ivf_topk(emb, 10, 5, cents=loaded).collect()
    }
    assert fresh == reused


def test_ivfpq_recall_vs_ivf(spark):
    # IVF-PQ ranks the SAME probed-cell candidates as plain IVF but by
    # PQ distance with a generous rescore margin — its recall floor
    # tracks the IVF tier (the PQ prune can only lose candidates the
    # margin fails to cover)
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.pq import (
        encode_pq,
        ivfpq_topk,
        train_pq,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.similarity import (
        IVF_KMEANS_ITERS,
        IVF_NCENTROIDS,
        _assign_to_centroids,
        kmeans_centroid_list,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    truth = _pairs(_exact_topk(emb))
    cents = kmeans_centroid_list(emb, IVF_NCENTROIDS, IVF_KMEANS_ITERS)
    cells = _assign_to_centroids(emb, cents, top=1).select(
        "vec_id", "centroid_id"
    )
    books = train_pq(emb)
    codes = encode_pq(emb, books)
    got = _pairs(
        ivfpq_topk(emb, N_QUERIES, K, cents, cells, codes, books)
    )
    recall = len(truth & got) / len(truth)
    print(f"\nIVF-PQ recall@{K}: {recall:.3f}")
    assert recall >= FLOOR_IVF - 0.10
