#!/usr/bin/env python
"""Long-run streaming soak with a crash schedule (r7 verdict item 5).

Every zone writer is replay-idempotent in its own unit test; this
drives the COMPOSITION: 100+ ticks feed five streaming stages —

  payload files -> ingest (raw zone, FileStreamSink commit log)
  raw zone      -> quality gate   (accepted/quarantine/metrics)
  raw zone      -> daily KPI zone (windowed agg -> partition upsert)
  raw zone      -> daily HLL sketch zone
  doc files     -> dedup-admission corpus zone (docs + signatures)

with seeded random CRASHES (a stage's query is stopped moments after
start, mid-drain, roughly every ~10 ticks, then restarted from its
checkpoint) — then asserts the crash-riddled run's zones are
row-identical to (a) a clean run fed the same ticks and (b) one-shot
BATCH twins over the full payload set.

Architectural rule the wiring encodes: stream-to-stream hops cross
only sink-LOGGED zones (the ingest raw zone; its _spark_metadata log
makes half-written files invisible to consumers). foreachBatch zones
(gate/KPI/sketch/corpus) are TERMINAL serving zones: their dynamic
partition overwrite is replay-idempotent at rest, but a file stream
tailing them would re-see rewritten files as new data — so nothing
streams from them here or in the package.

Batching-variant surfaces are excluded by construction, and only
those: batch_id values differ between runs (zones compare row sets
with batch_id dropped; gate metrics compare summed across batches),
and the soak corpus plants only EXACT duplicates with monotone doc
ids, so the dedup survivor (min id) is identical whether a dup pair
lands within one micro-batch or across two.

The in-process crash is ``StreamingQuery.stop()`` mid-drain — tasks
are cancelled, uncommitted sink output and state are abandoned; a
kill -9 of the JVM is out of reach for a single-process test, and the
recovery path exercised (checkpoint replay over partially-committed
zones) is the same one.

Usage: python scripts/soak.py [ticks] [seed]  — writes docs/SOAK.json.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import StringType, StructField, StructType  # noqa: E402

TICKS = 100
SEED = 1337
DOWNSTREAM_EVERY = 5  # raw-zone consumers drain every N ticks
# SOAK_VOLUME_X scales per-tick batch volume through the SAME crash
# schedule (r8 verdict item 6: reference-cadence ticks bound replay
# correctness, sf1-sized ticks bound per-batch STATE growth — the
# dedup-admission and CMS zones are the interesting ones). The
# artifact self-names by volume (docs/SOAK.json vs SOAK_10X.json).
VOLUME_X = int(os.environ.get("SOAK_VOLUME_X", "1"))
EVENTS_PER_TICK = 40 * VOLUME_X
DOCS_PER_TICK = 15 * VOLUME_X

_EVENT_SCHEMA = (
    "ts timestamp, user_id string, event_type string, value double"
)


def _payload(tick: int, i: int) -> str:
    """Deterministic clickstream payload: valid event_ts always (the
    ingest corrupt-line fallback buckets by processing time, which can
    never compare across runs); gate violations planted via type/value."""
    day = 1 + tick // 10
    # "view"/"click" are gate-KNOWN types; "teleport" plants the
    # known_type violation
    etype = (
        "teleport"
        if i % 13 == 0
        else ("purchase" if i % 5 == 0 else ("view" if i % 2 else "click"))
    )
    price = None if i % 10 == 0 else round(5.0 + (i * 7 % 40) / 4, 2)
    return json.dumps(
        {
            "event_ts": f"2025-09-{day:02d}T{(tick * 3 + i) % 24:02d}:"
            f"{i % 60:02d}:00Z",
            "user_id": f"u_{tick}_{i}",
            "session_id": f"s_{tick}_{i % 7}",
            "event_type": etype,
            "page": "/p",
            "product_id": f"sku_{i % 9}",
            "price": price,
            "currency": "USD",
            "referrer": "ref",
            "user_agent": "UA",
        }
    )


def _doc_rows(tick: int) -> list[tuple[int, str]]:
    """Monotone doc ids; every 5th doc is an EXACT duplicate of a doc
    from an earlier tick (or earlier in the same tick) so admissions
    exercise both the within-batch and cross-batch paths with a
    batching-invariant survivor (min id)."""
    rows = []
    for i in range(DOCS_PER_TICK):
        doc_id = tick * DOCS_PER_TICK + i
        if i % 5 == 4 and doc_id >= DOCS_PER_TICK:
            dup_of = (doc_id * 7919) % (tick * DOCS_PER_TICK)  # earlier id
            rows.append((doc_id, _doc_text(dup_of)))
        else:
            rows.append((doc_id, _doc_text(doc_id)))
    return rows


def _doc_text(doc_id: int) -> str:
    # per-doc token namespace: non-duplicate docs share NO tokens, so
    # the only near-dup pairs are the planted exact duplicates (a
    # shared small vocabulary made every doc a near-dup of every other
    # and collapsed the corpus to a handful of survivors)
    toks = [f"w{doc_id}_{j}" for j in range(30)]
    return f"doc {doc_id} " + " ".join(toks)


def _raw_as_events(raw):
    return raw.select(
        F.to_timestamp("event_ts").alias("ts"),
        "user_id",
        "event_type",
        F.col("price").cast("double").alias("value"),
    )


def _kpi_transform(win):
    return win.select(
        F.to_date("window_start").cast("string").alias("dt"),
        "total_events",
        "unique_users",
        "pageviews",
        "purchases",
        "revenue_usd",
    )


class Soak:
    def __init__(self, spark, root: str, crash_ticks: dict[int, str]):
        self.spark = spark
        self.root = root
        self.crash_ticks = crash_ticks
        self.raw = f"{root}/raw"
        self.gate = f"{root}/gate"
        self.kpi = f"{root}/kpi"
        self.sketch = f"{root}/sketch"
        self.corpus = f"{root}/corpus"
        self.src_events = f"{root}/src_events"
        self.src_docs = f"{root}/src_docs"
        os.makedirs(self.src_events)
        os.makedirs(self.src_docs)
        self.crashes = 0
        self.microbatches = 0

    # ---- stages ---------------------------------------------------------

    def _start(self, stage: str):
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.corpus_ingest import (
            start_dedup_corpus_ingest,
        )
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.ingest import (
            start_ingest,
        )
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.kpis_stream import (
            windowed_kpis,
        )
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.quality_gate import (
            start_quality_gate,
        )
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.sketch_zone import (
            start_sketch_zone,
        )
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.upsert import (
            start_partition_upsert,
        )

        ck = f"{self.root}/ck_{stage}"
        if stage == "ingest":
            src = self.spark.readStream.schema(
                StructType([StructField("value", StringType())])
            ).text(self.src_events)
            return start_ingest(src, self.raw, ck)
        raw_stream = (
            self.spark.readStream.schema(
                self.spark.read.json(self.raw).schema
            ).json(self.raw)
            if stage in ("gate", "kpi", "sketch")
            else None
        )
        if stage == "gate":
            return start_quality_gate(
                _raw_as_events(raw_stream), self.gate, ck
            )
        if stage == "kpi":
            return start_partition_upsert(
                windowed_kpis(
                    _raw_as_events(raw_stream), watermark="30 days"
                ),
                self.kpi,
                ck,
                partition_col="dt",
                transform=_kpi_transform,
            )
        if stage == "sketch":
            return start_sketch_zone(
                _raw_as_events(raw_stream), self.sketch, ck,
                watermark="30 days",
            )
        if stage == "corpus":
            docs = self.spark.readStream.schema("doc_id long, text string").json(
                self.src_docs
            )
            return start_dedup_corpus_ingest(docs, self.corpus, ck)
        raise ValueError(stage)

    def _drain(self, stage: str, crash: bool) -> None:
        q = self._start(stage)
        if crash:
            # crash surrogate: cancel mid-drain, abandoning any
            # uncommitted batch, then restart from the checkpoint
            time.sleep(0.3)
            q.stop()
            q.awaitTermination(60)
            self.crashes += 1
            q = self._start(stage)
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(f"{stage}: {q.exception()}")
        self.microbatches += len(
            [p for p in q.recentProgress if p["numInputRows"] > 0]
        )
        q.stop()

    # ---- drive ----------------------------------------------------------

    def run(self, ticks: int) -> None:
        for t in range(ticks):
            with open(f"{self.src_events}/tick_{t:04d}.txt", "w") as f:
                f.write(
                    "\n".join(
                        _payload(t, i) for i in range(EVENTS_PER_TICK)
                    )
                    + "\n"
                )
            with open(f"{self.src_docs}/tick_{t:04d}.json", "w") as f:
                for doc_id, text in _doc_rows(t):
                    f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
            crash_stage = self.crash_ticks.get(t)
            self._drain("ingest", crash_stage == "ingest")
            # a crash scheduled for a downstream stage forces a drain
            # round this tick — otherwise only crashes that happen to
            # land on a cadence tick would ever fire
            if (
                (t + 1) % DOWNSTREAM_EVERY == 0
                or t == ticks - 1
                or crash_stage in ("gate", "kpi", "sketch", "corpus")
            ):
                for stage in ("gate", "kpi", "sketch", "corpus"):
                    self._drain(stage, crash_stage == stage)

    # ---- zone digests ---------------------------------------------------

    def digests(self) -> dict:
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.quality_gate import (
            accepted_zone,
            metrics_zone,
            quarantine_zone,
        )

        spark = self.spark

        def rows(df, drop=("batch_id",)):
            cols = [c for c in df.columns if c not in drop]
            return sorted(
                tuple(str(x) for x in r)
                for r in df.select(*sorted(cols)).collect()
            )

        # Zone identity is (day, estimate), not sketch bytes
        # (datasketches serialization follows the merge path). At the
        # zone's lg_k 12 — the union gadget's own lgMaxK — register-max
        # union is lossless, so the estimate is grouping/replay
        # independent and clean-vs-crashed compares EXACTLY. (At any
        # finer lg_k the union DOWNSIZES mid-merge and the estimate
        # follows micro-batch boundaries — found by this soak's 10x
        # variant, r9.) The one-shot BATCH twin still differs within
        # HLL error once dense (HIP vs composite estimator), so the
        # twin check is tolerance-based below.
        sketch = spark.read.parquet(self.sketch).select(
            "dt", F.hll_sketch_estimate("sk").alias("est")
        )
        return {
            "raw": rows(spark.read.json(self.raw)),
            "accepted": rows(spark.read.parquet(accepted_zone(self.gate))),
            "quarantine": rows(
                spark.read.parquet(quarantine_zone(self.gate)).withColumn(
                    "violations", F.to_json("violations")
                )
            ),
            "metrics": rows(
                spark.read.parquet(metrics_zone(self.gate))
                .groupBy("check_name")
                .agg(
                    F.sum("n_checked").alias("n_checked"),
                    F.sum("n_violations").alias("n_violations"),
                )
            ),
            "kpi": rows(spark.read.parquet(self.kpi)),
            "sketch": rows(sketch),
            "corpus": rows(
                spark.read.parquet(f"{self.corpus}/docs").select(
                    "doc_id", "text"
                )
            ),
        }


def batch_twins(spark, soak: Soak) -> dict:
    """One-shot batch recomputation over the FULL payload set for the
    batching-invariant zones (raw, gate routing/metrics, KPI, sketch,
    corpus survivors-by-closed-form)."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.ingest import (
        build_ingest_frame,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.kpis_stream import (
        windowed_kpis,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.quality_gate import (
        gate_checks,
    )

    def rows(df):
        return sorted(
            tuple(str(x) for x in r)
            for r in df.select(*sorted(df.columns)).collect()
        )

    # the raw twin must take the same JSON round-trip as the zone
    # (timestamp/price formatting, partition cols surfacing as strings)
    twin_dir = tempfile.mkdtemp(prefix="soak_twin_")
    (
        build_ingest_frame(spark.read.text(soak.src_events))
        .write.partitionBy("date", "hour")
        .json(twin_dir, mode="overwrite")
    )
    raw_batch = spark.read.json(twin_dir)
    ev = _raw_as_events(spark.read.json(soak.raw))
    checks = {n: p for n, (p, _) in gate_checks().items()}
    viol = F.array_compact(
        F.array(*[F.when(p, F.lit(n)) for n, p in checks.items()])
    )
    flagged = ev.withColumn("violations", viol)
    kpi = _kpi_transform(windowed_kpis(ev))
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.sketch_zone import (
        SKETCH_LG_K,
    )

    sketch = (
        ev.groupBy(F.to_date("ts").cast("string").alias("dt"))
        .agg(F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk"))
        .select("dt", F.hll_sketch_estimate("sk").alias("est"))
    )
    docs = spark.read.schema("doc_id long, text string").json(soak.src_docs)
    survivors = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return {
        "raw": rows(raw_batch),
        "accepted": rows(
            flagged.where(F.size("violations") == 0).drop("violations")
        ),
        "quarantine": rows(
            flagged.where(F.size("violations") > 0).withColumn(
                "violations", F.to_json("violations")
            )
        ),
        "metrics": rows(
            ev.agg(
                *[F.count(F.when(p, 1)).alias(n) for n, p in checks.items()]
            )
        ),
        "kpi": rows(kpi),
        "sketch": rows(sketch),
        "corpus": rows(survivors.select("doc_id", "text")),
    }


SKETCH_TWIN_RTOL = 0.05  # 3 sigma at lg_k 12 (rse = 1.04 / sqrt(2^12))


def _sketch_twin_close(
    zone_rows: list[tuple], twin_rows: list[tuple]
) -> bool:
    """(dt, est) rows equal per-day within SKETCH_TWIN_RTOL, same
    day set (rows are the sorted str-tuples from digests())."""
    za = {r[0]: float(r[1]) for r in zone_rows}
    tw = {r[0]: float(r[1]) for r in twin_rows}
    if za.keys() != tw.keys():
        return False
    return all(
        abs(za[d] - tw[d]) <= SKETCH_TWIN_RTOL * max(tw[d], 1.0)
        for d in tw
    )


def run_soak(spark, ticks: int = TICKS, seed: int = SEED) -> dict:
    rng = random.Random(seed)
    stages = ("ingest", "gate", "kpi", "sketch", "corpus")
    crash_ticks = {
        t: rng.choice(stages)
        for t in range(ticks)
        if rng.random() < 0.1  # ~every 10 ticks
    }
    base = tempfile.mkdtemp(prefix="soak_")
    out: dict = {
        "ticks": ticks,
        "seed": seed,
        "volume_x": VOLUME_X,
        "events_per_tick": EVENTS_PER_TICK,
        "docs_per_tick": DOCS_PER_TICK,
        "crash_schedule": {str(t): s for t, s in sorted(crash_ticks.items())},
    }
    runs = {}
    for name, crashes in (("clean", {}), ("crashed", crash_ticks)):
        root = os.path.join(base, name)
        os.makedirs(root)
        s = Soak(spark, root, crashes)
        t0 = time.perf_counter()
        s.run(ticks)
        runs[name] = s
        out[name] = {
            "wall_s": round(time.perf_counter() - t0, 1),
            "microbatches": s.microbatches,
            "crashes": s.crashes,
        }
    d_clean = runs["clean"].digests()
    d_crash = runs["crashed"].digests()
    twins = batch_twins(spark, runs["clean"])
    out["zones"] = {}
    ok = True
    for z in d_clean:
        if z == "sketch":
            # approximate zone: day set exact, per-day estimate within
            # the lg_k 12 HLL bound — for the CRASHED run too, because
            # DataSketches estimates are not a pure function of the
            # key set near mode promotions (measured: a crash/replay
            # at 400 keys/day flips estimates 400 -> 399/401 at
            # lg_k 12, while lg_k 20 — exact at that scale — returns
            # 400 everywhere, so the registers lose nothing; see
            # streaming/sketch_zone.py). Exactness here would pin a
            # property the library does not have at any lg_k that
            # still goes dense at 100 TB cardinalities.
            clean_vs_crash = _sketch_twin_close(d_clean[z], d_crash[z])
        else:
            clean_vs_crash = d_clean[z] == d_crash[z]
        # metrics twin is a single-row total vs the summed zone — the
        # values must agree, the shapes differ; compare value bags
        if z == "metrics":
            zone_vals = sorted(x for r in d_clean[z] for x in r)
            twin_vals = sorted(x for r in twins[z] for x in r)
            twin_match = set(twin_vals) <= set(zone_vals)
        elif z == "sketch":
            # merged zone sketch vs one-shot batch sketch: identical
            # only while sparse (coupon-exact); once dense the
            # estimator paths differ (HIP vs composite — union
            # abandons the HIP accumulator), so the twin contract is
            # per-day RELATIVE error within the lg_k 12 HLL bound
            # (rse 1.04/2^6 = 1.6%; gate at 3 sigma ~ 5%). The
            # clean-vs-crashed comparison above uses the SAME
            # tolerance (day set exact, estimate within the bound) —
            # see the block comment there for why exact replay
            # equality is not a property the estimator has.
            twin_match = _sketch_twin_close(d_clean[z], twins[z])
        else:
            twin_match = d_clean[z] == twins[z]
        out["zones"][z] = {
            "rows": len(d_clean[z]),
            "crashed_run_identical": clean_vs_crash,
            "batch_twin_match": twin_match,
            # sketch estimates compare within SKETCH_TWIN_RTOL (day
            # set exact); every other zone is exact row equality
            "comparison": "tolerance" if z == "sketch" else "exact",
        }
        ok = ok and clean_vs_crash and twin_match
    out["all_equal"] = ok
    # cache-lifetime census, soak leg (r9 verdict #4; contract
    # tightened r11): the zones call no persisting QUERY path, and
    # since r11 upsert/corpus_ingest/cms-compaction release their
    # per-batch localCheckpoint blocks DETERMINISTICALLY at batch end
    # (streaming/release.py checkpoint_release_scope) instead of
    # waiting for driver GC + ContextCleaner — the r10 soaks measured
    # 0..~81 pending entries after 100 ticks depending on GC timing.
    # The CONTRACT is now: cached_rdds_at_end == 0 on EVERY run (no
    # zone holds cross-tick checkpoint state; the after-GC probe stays
    # as a regression sentinel and must also read 0).
    sc = spark.sparkContext
    out["cached_rdds_at_end"] = len(sc._jsc.sc().getRDDStorageInfo())
    import gc as _gc

    _gc.collect()
    spark._jvm.System.gc()
    time.sleep(3)
    out["cached_rdds_after_gc"] = len(sc._jsc.sc().getRDDStorageInfo())
    shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import (
        get_spark,
    )

    ticks = int(sys.argv[1]) if len(sys.argv) > 1 else TICKS
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else SEED
    spark = get_spark(app_name="soak")
    out = run_soak(spark, ticks, seed)
    print(json.dumps(out), flush=True)
    fname = "SOAK.json" if VOLUME_X == 1 else f"SOAK_{VOLUME_X}X.json"
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        fname,
    )
    with open(p, "w") as f:
        json.dump(out, f, indent=1)
    # r11: deterministic-release contract is part of the gate
    sys.exit(0 if out["all_equal"] and out["cached_rdds_at_end"] == 0 else 1)


if __name__ == "__main__":
    main()
