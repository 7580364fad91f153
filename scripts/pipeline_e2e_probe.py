#!/usr/bin/env python
"""Composed end-to-end pipeline probe at 10x (r10 verdict next-round
#5): the user-shaped training-data pipeline run as ONE session —

    ingest -> online admission dedup -> corpus materialization ->
    curation -> quality scoring -> PII scrub -> contamination screen ->
    pack -> train/test split

— over a 10x corpus (50k Zipf docs with planted near-dups = 10x the
sf0.1 documents table), with the cache-census instrumentation on.
Each per-family probe (PROBE_DEDUP_10X, PROBE_ADMISSION, ...) scales
one operator in isolation; this one is the closest sandbox analog to
the 100 TB workload because the stages SHARE the session: cache
pressure, artifact reuse, and streaming-then-batch interactions happen
exactly as a real curation run would see them.

Recorded per stage: wall seconds, shuffle-write MB (profile.py), RDD-storage entry count after the stage (localCheckpoint
blocks + CacheManager pins), output rows. Final: the flat-state
assertion — release_query_caches() returns storage to EMPTY, i.e. the
whole composed run leaves no residual driver/executor storage beyond
the adjudicated per-dataset pins it released.

Writes docs/PROBE_PIPELINE_E2E.json. Exit 1 if any stage fails or the
final state is not flat.

Usage: python scripts/pipeline_e2e_probe.py [n_docs]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from pyspark.sql import functions as F  # noqa: E402

from scale_probe import _shuffle_mb, _zipf_docs  # noqa: E402

from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import (  # noqa: E402
    profile,
)

N_DOCS = 50_000  # 10x the sf0.1 documents table
N_BATCHES = 5


def _storage_entries(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _stage(spark, out: dict, name: str, fn):
    with profile(spark) as p:
        rows = fn()
    rec = {
        "wall_s": round(p.wall_s, 2),
        "storage_entries_after": _storage_entries(spark),
    }
    if rows is not None:
        rec["rows"] = rows
    rec["shuffle_write_mb"] = _shuffle_mb(p)
    out["stages"][name] = rec
    print(f"[{name}] {rec}", flush=True)


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS

    from clickstream_pipeline_aws_kafka_docker_airflow__spark import (
        registry,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.maintenance import (
        release_query_caches,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import (
        get_spark,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.corpus_ingest import (
        load_corpus,
        start_dedup_corpus_ingest,
    )

    spark = get_spark(app_name="pipeline_e2e_probe")
    base = tempfile.mkdtemp(prefix="pipeline_e2e_")
    src = os.path.join(base, "src")
    corpus = os.path.join(base, "corpus")
    ckpt = os.path.join(base, "ckpt")
    probe_sf = os.path.join(base, "sf")
    os.makedirs(probe_sf)

    out: dict = {
        "probe": "pipeline_e2e",
        "n_docs": n_docs,
        "n_batches": N_BATCHES,
        "stages": {},
    }

    # stage 0: stage the Zipf corpus (planted near-dups every 20th doc)
    # as N_BATCHES files so the ingest runs as real micro-batches.
    # The raw Zipf body keeps dedup fidelity (interleaving stopwords
    # between body tokens was measured to inflate cross-doc Jaccard —
    # every shingle window became mostly shared filler and the
    # admission stage rejected 25-37% instead of the planted ~5%). The
    # quality heuristics instead get their stopwords from a SUFFIX
    # anchored on doc_id (its shingles stay doc-specific) whose
    # stopword count varies with doc_id % 8, so the quality score
    # straddles the 0.55 curation floor: score = 0.004*min(tok,100) +
    # 0.3*(1 - punct_ratio) + 0.3*min(5*stops/tok, 1) lands in
    # ~[0.50, 0.76] and roughly a quarter of admitted docs fail the
    # floor — the curation filter stays a real filter at 10x.
    def _gen():
        docs = _zipf_docs(spark, n_docs).select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" end of doc "),
                F.col("doc_id").cast("string"),
                F.lit(" mark"),
                F.repeat(F.lit(" the"), (F.col("doc_id") % 8).cast("int")),
                F.lit("."),
            ).alias("text"),
        )
        per = n_docs // N_BATCHES
        os.makedirs(src, exist_ok=True)
        for b in range(N_BATCHES):
            tmp = os.path.join(base, f"_stage{b}")
            (
                docs.where(
                    (F.col("doc_id") >= b * per)
                    & (F.col("doc_id") < (b + 1) * per)
                )
                .coalesce(1)
                .write.parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.copy(part, os.path.join(src, f"b{b}.parquet"))
            shutil.rmtree(tmp)
        return n_docs

    _stage(spark, out, "generate", _gen)

    # stage 1: streaming ingest + online admission dedup (within-batch
    # exact collapse, cross-batch signature screen) — one micro-batch
    # per staged file
    def _ingest():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_dedup_corpus_ingest(stream, corpus, ckpt)
        assert q.awaitTermination(1800), "ingest did not drain"
        return None

    _stage(spark, out, "ingest_admission", _ingest)

    # stage 2: materialize the admitted corpus as a documents table in
    # the sf layout the registered queries consume (lang/source derived
    # deterministically, n_chars measured — the columns the curation
    # stages group on)
    def _materialize():
        admitted = load_corpus(spark, corpus)
        n = admitted.count()
        (
            admitted.select(
                "doc_id",
                "text",
                F.concat(
                    F.lit("l"), (F.col("doc_id") % 4).cast("string")
                ).alias("lang"),
                F.concat(
                    F.lit("src"), (F.col("doc_id") % 7).cast("string")
                ).alias("source"),
                F.length("text").cast("bigint").alias("n_chars"),
            )
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(os.path.join(base, "_docs_tmp"))
        )
        shutil.move(
            os.path.join(base, "_docs_tmp"),
            os.path.join(probe_sf, "documents.parquet"),
        )
        return n

    _stage(spark, out, "materialize_corpus", _materialize)

    qs = registry.queries()

    def _run_query(name):
        def _fn():
            df = qs[name](spark, probe_sf)
            df.write.format("noop").mode("overwrite").save()
            return df.count()

        return _fn

    # stages 3..8: the registered curation surface over the admitted
    # corpus — the same callables the driver contract serves
    for qname in (
        "corpus_curation",
        "quality_score",
        "pii_scrub",
        "contamination_check",
        "pack_sequences_greedy",
        "train_split",
    ):
        _stage(spark, out, qname, _run_query(qname))

    # flat-state assertion: release the adjudicated per-dataset pins;
    # storage must return to EMPTY (the streaming stages already
    # released their checkpoint blocks deterministically at batch end)
    released = release_query_caches(spark)
    final_entries = _storage_entries(spark)
    out["final"] = {
        "released_pins": released,
        "storage_entries_after_release": final_entries,
        "flat": final_entries == 0,
    }
    out["total_wall_s"] = round(
        sum(s["wall_s"] for s in out["stages"].values()), 1
    )
    path = os.path.join(_REPO, "docs", "PROBE_PIPELINE_E2E.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    print(f"wrote {path}", file=sys.stderr)
    shutil.rmtree(base, ignore_errors=True)
    return 0 if out["final"]["flat"] else 1


if __name__ == "__main__":
    sys.exit(main())
