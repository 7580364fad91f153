"""Continuous corpus ingestion with ONLINE near-duplicate rejection —
the streaming form of the batch dedup pipeline: documents arrive in
micro-batches, collapse within-batch via the exact MinHash->Jaccard->
connected-components path, then screen against every previously
ACCEPTED document before being admitted to the corpus.

Cross-batch screening runs on the persisted SIGNATURE zone, not stored
text: candidates come from band collisions (the same LSH as batch
dedup), and the accept/reject decision uses minhash-signature
agreement — ``n_equal / k`` is the standard unbiased Jaccard estimate —
because re-deriving exact shingles for arbitrarily old corpus members
would mean storing (or re-reading) the full corpus text per batch.
That is the trade production online dedup makes: exact-verified
within the batch, sketch-verified against history, with the sketch
resolution (k hashes) as the dial. All hashes are the md5 family from
``operators/dedup.py``, so decisions are deterministic and
engine-portable.

Exactly-once effect: each batch writes its accepted docs AND their
signatures under ``batch_id=<id>`` partitions via dynamic partition
overwrite — a replayed micro-batch rewrites its own partitions with
identical content (same screen against the same earlier-batch
signatures) instead of appending twice. Docs and signatures stay
consistent because both zones key on the same batch partition.

Scale: per batch the work is (batch shingles) + (bands of batch x
matching bands of history) — the history side is READ via the band
join's bucket keys, never scanned per pair; signature storage is
k short strings per accepted doc, orders of magnitude under the text.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.clustering import connected_components
from ..operators.dedup import (
    NUM_HASHES,
    band_table,
    minhash_near_dup,
    minhash_signatures,
    shingle_table,
)
from .release import checkpoint_release_scope
from .upsert import foreach_batch_writer, overwrite_partitions

# admit a new doc only if its signature agrees with every stored
# signature on FEWER than this many of the NUM_HASHES minhashes
# (n_equal/k >= 1/2 estimates Jaccard >= 1/2, the batch threshold)
SIG_EQUAL_REJECT = NUM_HASHES // 2

DUP_JACCARD = 0.5


def _docs_zone(corpus_dir: str) -> str:
    return f"{corpus_dir}/docs"


def _sigs_zone(corpus_dir: str) -> str:
    return f"{corpus_dir}/signatures"


def _dedup_one_batch(
    batch_df: DataFrame, batch_id: int, corpus_dir: str, redact: bool = False
) -> None:
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    # the keep/sigs/rejected checkpoints below are dead once both zone
    # writes commit — release them with the batch instead of waiting
    # for driver GC (streaming/release.py)
    with checkpoint_release_scope(spark):
        _dedup_one_batch_body(spark, batch_df, batch_id, corpus_dir, redact)


def _dedup_one_batch_body(
    spark, batch_df: DataFrame, batch_id: int, corpus_dir: str, redact: bool
) -> None:
    docs = batch_df.select("doc_id", "text")
    if redact:
        # compliance-first: mask PII BEFORE dedup, so signatures, the
        # signature zone, and the stored corpus never carry raw PII —
        # and docs differing only in their PII dedup together
        from ..operators.pii import redact_pii

        docs = docs.select("doc_id", redact_pii("text").alias("text"))

    # 1) within-batch: exact pipeline, transitive collapse to min-id
    pairs = minhash_near_dup(docs).where(F.col("jaccard") >= DUP_JACCARD)
    comp = connected_components(pairs, "id_a", "id_b")
    losers = comp.where(F.col("id") != F.col("label")).select(
        F.col("id").alias("doc_id")
    )
    # checkpoint the survivors: the whole shingle -> minhash -> band
    # self-join -> verify -> CC chain sits under BOTH zone writes (docs
    # directly, signatures via minhash_signatures(keep)); without the
    # pin every micro-batch would pay the dominant dedup cost twice.
    # eager=False — the first write materializes it.
    keep = docs.join(F.broadcast(losers), "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    # 2) cross-batch: band-join the survivors' signatures against the
    # signature zone; reject on minhash agreement. Only EARLIER batches
    # count as history — a replayed batch must not screen its docs
    # against its own previously-persisted signatures (every doc
    # matches itself on all hashes, so the replay would reject the
    # whole batch; excluding batch_id >= current makes replay exactly
    # idempotent, not accidentally so). Only the first-batch missing
    # zone is "no history"; real read failures must propagate, not
    # silently disable the dedup screen.
    sigs = minhash_signatures(shingle_table(keep)).localCheckpoint(eager=False)
    try:
        old = (
            spark.read.parquet(_sigs_zone(corpus_dir))
            .where(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
    except AnalysisException as e:
        if (e.getCondition() or "") != "PATH_NOT_FOUND":
            raise
        old = None
    if old is not None:
        nb = band_table(sigs).withColumnRenamed("doc_id", "new_id")
        ob = band_table(old).withColumnRenamed("doc_id", "old_id")
        cand = (
            nb.join(ob, ["band", "bkey"])
            .select("new_id", "old_id")
            .distinct()
        )
        osig = old.select(
            F.col("doc_id").alias("old_id"),
            *[F.col(f"mh{i}").alias(f"omh{i}") for i in range(NUM_HASHES)],
        )
        n_eq = sum(
            F.when(F.col(f"mh{i}") == F.col(f"omh{i}"), 1).otherwise(0)
            for i in range(NUM_HASHES)
        )
        rejected = (
            cand.join(sigs, cand["new_id"] == sigs["doc_id"])
            .join(osig, "old_id")
            .where(n_eq >= SIG_EQUAL_REJECT)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            # broadcast twice below (keep + sigs anti-joins); each
            # broadcast materializes independently without the pin
            .localCheckpoint(eager=False)
        )
        keep = keep.join(F.broadcast(rejected), "doc_id", "left_anti")
        sigs = sigs.join(F.broadcast(rejected), "doc_id", "left_anti")

    # 3) admit: batch-keyed partitions -> replay rewrites, never appends
    for df, zone in (
        (keep, _docs_zone(corpus_dir)),
        (sigs, _sigs_zone(corpus_dir)),
    ):
        overwrite_partitions(
            df.withColumn("batch_id", F.lit(batch_id)).repartition(1),
            zone,
            "batch_id",
        )


def start_dedup_corpus_ingest(
    stream_docs: DataFrame, corpus_dir: str, checkpoint_dir: str,
    redact: bool = False,
) -> StreamingQuery:
    """Run the online-dedup ingest over a streaming (doc_id, text)
    frame; AvailableNow-triggered so tests and backfills drain the
    source and stop. ``redact=True`` masks PII before dedup and
    admission (operators/pii.py) — nothing downstream of the source
    ever stores raw PII."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_one_batch(batch_df, batch_id, corpus_dir, redact=redact)

    return foreach_batch_writer(
        stream_docs, _ingest, checkpoint_dir, "append"
    ).start()


def load_corpus(spark, corpus_dir: str) -> DataFrame:
    """The accepted corpus as a DataFrame (all batches)."""
    return spark.read.parquet(_docs_zone(corpus_dir)).select("doc_id", "text")
