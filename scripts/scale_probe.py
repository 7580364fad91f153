#!/usr/bin/env python
"""Reproducible scale probes behind the README's measured tables.

Usage: python scripts/scale_probe.py [events|sketch|ann|iterative|dedup|
       skew|skewjoin|dupflood|admission|users|all]

* events — generate 10M synthetic events (30 days), run the KPI family
  (exact, HLL, hourly, sessionize) and print wall times.
* sketch — build the daily HLL sketch zone over the 10M events and
  serve a 30-day range-distinct from it vs re-scanning raw.
* ann    — 100k clustered 64-dim vectors: brute-force vs IVF vs
  IVF-PQ raw/residual codes, timings + recall@5.
* iterative — 10M events: PageRank over the product-transition graph,
  the per-series EWMA fold, and the daily CMS zone build + range serve.
* dedup  — candidate-set growth of the PPJoin and MinHash-LSH blocking
  strategies at 1x vs 10x corpus (Zipf-skewed token draws: hot
  shingles, hot prefix tokens), plus rounds-to-converge / state size
  for connected components and PageRank with hot join keys. Shuffle
  bytes and per-task distributions come from the in-process status
  store (profile.py). The claim under test:
  candidates grow ~linearly (sub-quadratically) with corpus size, and
  the iterative kernels carry flat per-round state.

Everything is seeded; numbers vary with hardware but orderings and
recalls reproduce exactly. Each probe prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import (  # noqa: E402
    profile,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import (  # noqa: E402
    get_spark,
)

N_EVENTS = 10_000_000
DAYS = 30
ANN_N, ANN_D, ANN_C = 100_000, 64, 100
ANN_QUERIES, ANN_K = 20, 5


def _t(fn):
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def _events_parquet(spark, d):
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.sources.generator import (
        generate_events_batch,
    )

    path = f"{d}/events10m"
    gen_s = _t(
        lambda: generate_events_batch(spark, N_EVENTS, days=DAYS)
        .write.parquet(path)
    )
    return path, gen_s


def probe_events(spark) -> dict:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.kpis import (
        daily_kpis,
    )

    d = tempfile.mkdtemp(prefix="probe_events_")
    path, gen_s = _events_parquet(spark, d)
    e = spark.read.parquet(path).withColumn("ts", F.col("event_ts"))

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    out = {
        "probe": "events",
        "n_events": N_EVENTS,
        "generate_write_s": gen_s,
        "daily_kpis_exact_s": _t(
            lambda: run(
                daily_kpis(
                    e, ts="ts", user="user_id", session="session_id",
                    etype="event_type", price="price",
                )
            )
        ),
        "daily_kpis_hll_s": _t(
            lambda: run(
                daily_kpis(
                    e, ts="ts", user="user_id", session="session_id",
                    etype="event_type", price="price",
                    approx_distinct=True,
                )
            )
        ),
        "sessionize_30min_s": _t(
            lambda: run(
                e.groupBy(
                    F.session_window("ts", "30 minutes").alias("sw"),
                    "user_id",
                ).agg(F.count(F.lit(1)).alias("n_events"))
            )
        ),
    }
    return out


def probe_sketch(spark) -> dict:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.sketch_zone import (
        SKETCH_LG_K,
        range_distinct_from_zone,
    )

    d = tempfile.mkdtemp(prefix="probe_sketch_")
    path, gen_s = _events_parquet(spark, d)
    e = spark.read.parquet(path)
    zone = f"{d}/zone"
    build_s = _t(
        lambda: e.groupBy(F.to_date("event_ts").cast("string").alias("dt"))
        .agg(F.hll_sketch_agg("user_id", F.lit(SKETCH_LG_K)).alias("sk"))
        .repartition(1)
        .write.partitionBy("dt")
        .parquet(zone)
    )
    lo = e.agg(F.min(F.to_date("event_ts"))).collect()[0][0].isoformat()
    hi = e.agg(F.max(F.to_date("event_ts"))).collect()[0][0].isoformat()
    t0 = time.perf_counter()
    row = range_distinct_from_zone(spark, zone, lo, hi).collect()[0]
    serve_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    exact = e.agg(F.countDistinct("user_id")).collect()[0][0]
    exact_s = round(time.perf_counter() - t0, 3)
    return {
        "probe": "sketch",
        "n_events": N_EVENTS,
        "build_zone_s": build_s,
        "serve_range_s": serve_s,
        "rescan_exact_s": exact_s,
        "estimate": int(row.est_distinct),
        "exact": int(exact),
        "rel_err_pct": round(abs(row.est_distinct - exact) / exact * 100, 3),
    }


def probe_ann(spark) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.pq import (
        encode_pq,
        ivfpq_topk,
        ivfpq_topk_residual,
        residual_frame,
        train_pq,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.similarity import (
        _assign_to_centroids,
        ivf_topk,
        kmeans_centroid_list,
        topk_matmul_arrow,
    )

    rng = np.random.default_rng(7)
    cents_np = rng.normal(0, 1, (ANN_C, ANN_D))
    asg = rng.integers(0, ANN_C, ANN_N)
    vecs = (cents_np[asg] + rng.normal(0, 0.3, (ANN_N, ANN_D))).astype(
        "float32"
    )
    d = tempfile.mkdtemp(prefix="probe_ann_")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(ANN_N)),
                "embedding": pa.array(
                    vecs.tolist(), pa.list_(pa.float32())
                ),
            }
        ),
        f"{d}/emb.parquet",
        row_group_size=10_000,
    )
    emb = spark.read.parquet(f"{d}/emb.parquet")

    out: dict = {"probe": "ann", "n_vectors": ANN_N, "n_clusters": ANN_C}
    t0 = time.perf_counter()
    bf = {
        (r.qid, r.nid)
        for r in topk_matmul_arrow(emb, ANN_QUERIES, ANN_K).collect()
    }
    out["bruteforce_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    cents = kmeans_centroid_list(emb, 16, 2)
    cells = _assign_to_centroids(emb, cents, top=1).select(
        "vec_id", "centroid_id"
    )
    cells.write.parquet(f"{d}/cells")
    cellsr = spark.read.parquet(f"{d}/cells")
    out["build_ivf_s"] = round(time.perf_counter() - t0, 2)

    def recall(pairs):
        return round(len(pairs & bf) / len(bf), 2)

    t0 = time.perf_counter()
    ivf = {
        (r.qid, r.nid)
        for r in ivf_topk(
            emb, ANN_QUERIES, ANN_K, cents=cents, corpus_cells=cellsr
        ).collect()
    }
    out["ivf_search_s"], out["ivf_recall"] = (
        round(time.perf_counter() - t0, 2),
        recall(ivf),
    )

    for label, frame in (("raw", emb), ("residual", None)):
        src = frame if frame is not None else residual_frame(
            emb, cellsr, cents
        )
        books = train_pq(src)
        t0 = time.perf_counter()
        idx = cellsr.join(encode_pq(src, books), "vec_id")
        idx.write.mode("overwrite").parquet(f"{d}/idx_{label}")
        idxr = spark.read.parquet(f"{d}/idx_{label}")
        build = round(time.perf_counter() - t0, 2)
        search = ivfpq_topk if label == "raw" else ivfpq_topk_residual
        for margin in (50, 200):
            t0 = time.perf_counter()
            got = {
                (r.qid, r.nid)
                for r in search(
                    emb, ANN_QUERIES, ANN_K, cents=cents, books=books,
                    rescore_margin=margin, index=idxr,
                ).collect()
            }
            out[f"ivfpq_{label}_m{margin}_s"] = round(
                time.perf_counter() - t0, 2
            )
            out[f"ivfpq_{label}_m{margin}_recall"] = recall(got)
        out[f"ivfpq_{label}_build_s"] = build
    return out


def probe_iterative(spark) -> dict:
    """Iterative/sequential operators at 10M events: PageRank over the
    product-transition graph, the EWMA fold over hourly series, and the
    mergeable daily CMS zone (build + range serve)."""
    from pyspark.sql import Window

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.graph import (
        pagerank_int,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.timeseries import (
        ewma_series,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import (
        cms_cells,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.cms_zone import (
        estimates_from_zone,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming.upsert import (
        overwrite_partitions,
    )

    d = tempfile.mkdtemp(prefix="probe_iter_")
    path, gen_s = _events_parquet(spark, d)
    e = spark.read.parquet(path).withColumn("ts", F.col("event_ts"))

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    w = Window.partitionBy("user_id").orderBy("ts")
    edges = (
        e.select(
            F.col("product_id").alias("src"),
            F.lead("product_id").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hh")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    zone = f"{d}/cms_zone"

    def build_zone():
        # one layer (batch 0) of the streaming zone's layout
        cells = cms_cells(
            e.select(
                F.to_date("ts").cast("string").alias("dt"),
                F.col("user_id").cast("string").alias("key"),
            )
        )
        overwrite_partitions(
            cells.withColumn("batch_id", F.lit(0)).repartition(1), zone, "batch_id"
        )

    out = {
        "probe": "iterative",
        "n_events": N_EVENTS,
        "generate_write_s": gen_s,
        "pagerank_3iter_s": _t(lambda: run(pagerank_int(edges))),
        "ewma_hourly_fold_s": _t(
            lambda: run(ewma_series(hourly, ["event_type"], "hh", "cnt"))
        ),
        "cms_zone_build_s": _t(build_zone),
        "cms_zone_serve_s": _t(
            lambda: run(
                estimates_from_zone(
                    spark, zone, [f"u_{i}" for i in range(1, 11)],
                    "2025-09-01", "2025-09-30",
                )
            )
        ),
    }
    return out


# ---------------------------------------------------------------------------
# dedup probe: candidate growth + iterative state at 1x vs 10x


def _zipf_u(field: str, i, bits: int = 24):
    """Deterministic uniform draw in [0,1) for (field, row, slot)."""
    h = F.md5(F.concat_ws("|", F.lit(field), i.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("double") / (1 << bits)


def _zipf_docs(spark, n_docs: int, vocab: int | None = None,
               doc_len: int = 30, dup_every: int = 20, shared: int = 28):
    """Seeded corpus with log-uniform (Zipf-like) token draws — the
    head token lands in ~8% of slots, so shingle/token DF is heavily
    skewed — plus planted near-dups: every ``dup_every``-th doc copies
    its predecessor's first ``shared`` slots.

    Vocabulary size scales with the corpus (Heaps' law, as in real
    text): with a FIXED vocabulary a 10x corpus multiplies every
    token's df by 10 and the rarest-token join groups grow
    quadratically — the duplicate-mass pathology prefix filtering is
    documented not to solve, not the scaling regime the probe models."""
    if vocab is None:
        vocab = max(5000, 3 * n_docs)
    base = spark.range(n_docs)
    src = F.when(
        (F.col("id") % dup_every) == dup_every - 1, F.col("id") - 1
    ).otherwise(F.col("id"))

    def tok(iexpr, j):
        u = _zipf_u(f"z{j}", iexpr)
        return F.concat(
            F.lit("t"),
            F.floor(F.pow(F.lit(float(vocab)), u)).cast("int").cast("string"),
        )

    cols = [tok(src, j) for j in range(shared)] + [
        tok(F.col("id"), j) for j in range(shared, doc_len)
    ]
    return base.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *cols).alias("text")
    )


def _zipf_edges(spark, n_edges: int, n_nodes: int = 300):
    """Weighted edge list with Zipf-hot endpoints (the head node takes
    ~8% of endpoints — a genuinely hot join key)."""
    base = spark.range(n_edges)

    def node(field):
        u = _zipf_u(field, F.col("id"))
        return F.concat(
            F.lit("n"),
            F.floor(F.pow(F.lit(float(n_nodes)), u)).cast("int").cast("string"),
        )

    return (
        base.select(node("es").alias("src"), node("ed").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _dedup_at_scale(spark, d: str, n_docs: int) -> dict:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.clustering import (
        connected_components,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.dedup import (
        PPJ_T_DEN,
        PPJ_T_NUM,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        ppjoin_pairs,
        ppjoin_prefix_table,
        shingle_table,
        token_set_table,
    )

    path = f"{d}/docs_{n_docs}"
    _zipf_docs(spark, n_docs).write.parquet(path)
    docs = spark.read.parquet(path)
    out: dict = {"n_docs": n_docs, "allpairs_space": n_docs * (n_docs - 1) // 2}

    sh = shingle_table(docs).localCheckpoint()
    out["shingle_rows"] = sh.count()
    out["max_shingle_df"] = (
        sh.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    )

    # MinHash-LSH: band join candidates, then exact verify
    with profile(spark) as rec:
        cands = lsh_candidate_pairs(minhash_signatures(sh)).localCheckpoint()
        out["lsh_candidates"] = cands.count()
    out["lsh_s"] = round(rec.wall_s, 2)
    out["lsh_shuffle_mb"] = _shuffle_mb(rec)

    # PPJoin: prefix-filter candidate space + exact pairs
    tk = token_set_table(docs).localCheckpoint()
    prefix = ppjoin_prefix_table(tk).localCheckpoint()
    a = prefix.select(F.col("doc_id").alias("doc_a"), "token", F.col("n").alias("n_a"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "token", F.col("n").alias("n_b"))
    ppj_cands = (
        a.join(b, "token")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(F.least("n_a", "n_b") * PPJ_T_DEN >= F.greatest("n_a", "n_b") * PPJ_T_NUM)
        .select("doc_a", "doc_b")
        .distinct()
    )
    with profile(spark) as rec:
        out["ppjoin_candidates"] = ppj_cands.count()
        out["ppjoin_pairs"] = ppjoin_pairs(docs, toks=tk, prefix=prefix).count()
    out["ppjoin_s"] = round(rec.wall_s, 2)
    out["ppjoin_shuffle_mb"] = _shuffle_mb(rec)

    # connected components over the verified near-dup pairs
    pairs = (
        jaccard_verify(sh, cands)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    stats: dict = {}
    t0 = time.perf_counter()
    connected_components(pairs, stats=stats).write.format("noop").mode(
        "overwrite"
    ).save()
    out["cc_s"] = round(time.perf_counter() - t0, 2)
    out["cc_rounds"] = stats.get("rounds")
    out["cc_state_rows"] = stats.get("state_rows")
    return out


def probe_dedup(spark) -> dict:
    """1x vs 10x corpus: sub-quadratic candidate growth for the blocked
    joins; flat per-round state for the iterative kernels."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.graph import (
        pagerank_int,
    )

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.maintenance import (
        release_query_caches,
    )

    d = tempfile.mkdtemp(prefix="probe_dedup_")
    out: dict = {"probe": "dedup"}
    n1 = 10_000
    for tag, n in (("x1", n1), ("x10", n1 * 10)):
        # dataset boundary: drop the previous corpus's pinned frames
        # (cand persists etc.) instead of accreting one entry set per
        # source identity across the probe's datasets
        release_query_caches(spark)
        out[tag] = _dedup_at_scale(spark, d, n)
    for k in ("lsh_candidates", "ppjoin_candidates"):
        out[f"{k}_growth"] = round(out["x10"][k] / max(out["x1"][k], 1), 1)

    # PageRank with hot join keys: doubling iterations ~doubles shuffle
    # while the state (one row per node) stays constant
    e1 = 200_000
    pr: dict = {}
    for tag, n_edges in (("x1", e1), ("x10", e1 * 10)):
        edges = _zipf_edges(spark, n_edges).localCheckpoint()
        row = {"n_edges": n_edges, "state_rows": (
            edges.select("src").union(edges.select("dst")).distinct().count()
        )}
        for iters in (3, 6):
            with profile(spark) as rec:
                pagerank_int(edges, n_iters=iters).write.format("noop").mode(
                    "overwrite"
                ).save()
            row[f"iters{iters}_s"] = round(rec.wall_s, 2)
            row[f"iters{iters}_shuffle_mb"] = _shuffle_mb(rec)
        pr[tag] = row
    out["pagerank"] = pr
    return out


# ---------------------------------------------------------------------------
# skew probe: hot-key sessionization, direct vs two-phase


def _shuffle_mb(rec) -> float:
    """Shuffle WRITE megabytes of a profiled block."""
    return round(rec.totals["shuffle_write_bytes"] / 1e6, 1)


def _heaviest_stage_tasks(rec) -> dict:
    """Per-task wall + shuffle-read distribution (median / max) of the
    heaviest-shuffle-read stage the profiled block completed — the
    window stage under test. The max/median ratio IS the straggler
    factor."""
    s = max(
        (s for s in rec.stage_table if s["status"] == "COMPLETE"),
        key=lambda s: s["shuffle_read_bytes"],
    )
    q = rec.task_median_max(s)
    (run_med, run_max), (rd_med, rd_max) = q["run_ms"], q["shuffle_read_bytes"]
    return {
        "n_tasks": s["tasks"],
        "task_wall_med_s": round(run_med / 1000, 2),
        "task_wall_max_s": round(run_max / 1000, 2),
        "task_read_med_mb": round(rd_med / 1e6, 1),
        "task_read_max_mb": round(rd_max / 1e6, 1),
        "straggler_factor": round(run_max / max(run_med, 1), 1),
    }


def _skewed_events(spark, d: str, n: int, hot_share: float = 0.2) -> str:
    """n synthetic events over 30 days where ONE user ('bot') owns
    ``hot_share`` of all rows — the bot-grade hot key. Pure codegen
    (range + hash), written to parquet so every measured run starts
    from the same scan."""
    span_us = DAYS * 86_400_000_000
    path = f"{d}/skew_{n}"
    every = int(round(1 / hot_share))
    (
        spark.range(n)
        .select(
            F.when(F.col("id") % every == 0, F.lit("bot"))
            .otherwise(
                F.concat(
                    F.lit("u_"),
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)).cast(
                        "string"
                    ),
                )
            )
            .alias("user_id"),
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_756_684_800_000_000)  # 2025-09-01 UTC
                + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(span_us))
            ).alias("ts"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def probe_skew(spark) -> dict:
    """Hot-key sessionization at 1x and 10x: a single user owns 20% of
    all events. ``direct`` (window on user_id) funnels that user's
    whole history through ONE task — its max-task wall and shuffle read
    grow linearly with scale while the median stays flat (unbounded
    straggler). ``two_phase`` (operators/sessionize.py) windows on
    (user_id, day-bucket) then merges bounded per-user session lists —
    max-task stays within a small factor of the median at both scales.
    Both paths return identical rows (asserted here at 1x, fuzzed +
    oracle-checked in tests)."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.sessionize import (
        sessionize_direct,
        sessionize_two_phase,
    )

    d = tempfile.mkdtemp(prefix="probe_skew_")
    out: dict = {"probe": "skew", "hot_user_share": 0.2, "days": DAYS}
    n1 = N_EVENTS  # 10M
    for tag, n in (("x1", n1), ("x10", n1 * 10)):
        path = _skewed_events(spark, d, n)
        e = spark.read.parquet(path)
        row: dict = {"n_events": n}
        for mode, fn in (
            ("direct", lambda df: sessionize_direct(df)),
            ("two_phase", lambda df: sessionize_two_phase(df)),
        ):
            with profile(spark) as rec:
                fn(e).write.format("noop").mode("overwrite").save()
            row[mode] = {"wall_s": round(rec.wall_s, 2), **_heaviest_stage_tasks(rec)}
        if tag == "x1":
            a = sessionize_direct(e).groupBy().agg(
                F.count(F.lit(1)), F.sum("n_events"), F.max("session_idx")
            ).collect()
            b = sessionize_two_phase(e).groupBy().agg(
                F.count(F.lit(1)), F.sum("n_events"), F.max("session_idx")
            ).collect()
            row["digests_match"] = a == b
        out[tag] = row
    return out


# ---------------------------------------------------------------------------
# duplicate-flood probe: hot LSH bucket, uncapped vs capped vs exact-first


def _flood_docs(spark, n_docs: int, flood_share: float = 0.05):
    """Zipf corpus where ``flood_share`` of the docs are ONE identical
    boilerplate text (the shared footer/licence-page pathology): md5
    band keys stay uniform, but every flood doc lands in the same
    bucket of every band."""
    base = _zipf_docs(spark, n_docs)
    flood_text = " ".join(f"b{j}" for j in range(30))
    return base.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % F.lit(int(1 / flood_share))) == 0,
            F.lit(flood_text),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _skewjoin_tables(spark, d: str, n_fact: int, n_keys: int):
    """Fact table where ONE join key owns ~1/3 of all rows (the
    bot-session / default-value pathology) + a uniform key-side table
    too large to model as a broadcastable dim at 100 TB. Payloads are
    md5 concats so the shuffled bytes are realistic row widths, not
    8-byte keys. Written to parquet so each measured run starts from
    the same scan."""
    fact_p, keys_p = f"{d}/fact", f"{d}/keys"
    (
        spark.range(n_fact)
        .select(
            F.when(F.col("id") % 3 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_keys)))
            .cast("bigint")
            .alias("k"),
            F.concat(
                F.md5(F.col("id").cast("string")),
                F.md5(F.concat(F.lit("x"), F.col("id").cast("string"))),
            ).alias("payload"),
        )
        .write.mode("overwrite")
        .parquet(fact_p)
    )
    (
        spark.range(n_keys)
        .select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("attr"),
        )
        .write.mode("overwrite")
        .parquet(keys_p)
    )
    return fact_p, keys_p


def probe_skewjoin(spark) -> dict:
    """session.py ships AQE skew-join as 'the 100 TB answer to skewed
    keys'; this measures the claim instead of citing it. A sort-merge
    join whose fact side has one key owning ~33% of the rows funnels
    ~1/3 of the shuffle into ONE reducer task when the optimization is
    off — max-task shuffle read tracks the hot-key mass, straggler
    factor tracks the skew ratio. With skew-join ON, AQE splits the hot
    partition into advisory-sized sub-reads that join against a
    replicated other side: max-task read collapses to ~the advisory
    size and the straggler factor to ~1.

    Broadcast is disabled for the probe because it models a FACT-fact
    join — at 100 TB neither side fits an executor; broadcasting the
    keys side here would simply dissolve the shuffle and measure
    nothing. Skew thresholds are scaled to the probe's bytes (8 MB
    threshold / 4 MB advisory vs the 256 MB / 64 MB production
    defaults): the trigger condition is partition_bytes > threshold
    AND > factor x median, which at 100 TB the same hot key meets by
    orders of magnitude. Both modes must produce identical aggregates
    (digest asserted)."""
    d = tempfile.mkdtemp(prefix="probe_skewjoin_")
    n_fact, n_keys = 5_000_000, 100_000
    fact_p, keys_p = _skewjoin_tables(spark, d, n_fact, n_keys)
    conf = spark.conf
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
    }
    saved = {}
    for k in list(tuned) + ["spark.sql.adaptive.skewJoin.enabled"]:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    out: dict = {
        "probe": "skewjoin",
        "n_fact": n_fact,
        "n_keys": n_keys,
        "hot_key_share": 0.33,
        "thresholds": tuned,
    }
    digests = {}
    try:
        for k, v in tuned.items():
            conf.set(k, v)
        for mode, enabled in (("skewjoin_off", "false"), ("skewjoin_on", "true")):
            conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
            fact = spark.read.parquet(fact_p)
            keys = spark.read.parquet(keys_p)
            j = (
                fact.join(keys, "k")
                .groupBy()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("payload") + F.length("attr")).alias("b"),
                )
            )
            with profile(spark) as rec:
                digests[mode] = j.collect()[0].asDict()
            out[mode] = {"wall_s": round(rec.wall_s, 2), **_heaviest_stage_tasks(rec)}
        out["digests_match"] = digests["skewjoin_off"] == digests["skewjoin_on"]
        out["joined_rows"] = digests["skewjoin_on"]["n"]
    finally:
        for k, v in saved.items():
            if v is not None:
                try:
                    conf.set(k, v)
                except Exception:
                    pass  # non-settable on this build — keep going
    return out


def probe_dupflood(spark) -> dict:
    """The hazard SHINGLE_DF_CAP/SIMHASH_BAND_DF_CAP guard against,
    measured for MinHash-LSH: a 5% exact-duplicate flood makes the
    uncapped candidate list grow QUADRATICALLY (100x for 10x docs)
    while (a) band_df_cap bounds bucket work and (b) the production
    composition — exact-dedup FIRST, LSH over distinct texts — keeps
    the full near-dup recall with linear candidates."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.dedup import (
        BAND_DF_CAP_DEFAULT,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )

    out: dict = {"probe": "dupflood", "flood_share": 0.05,
                 "band_df_cap": BAND_DF_CAP_DEFAULT}
    n1 = 10_000
    for tag, n in (("x1", n1), ("x10", n1 * 10)):
        docs = _flood_docs(spark, n).localCheckpoint()
        sh = shingle_table(docs).localCheckpoint()
        sigs = minhash_signatures(sh).localCheckpoint()
        row: dict = {"n_docs": n}
        t0 = time.perf_counter()
        row["uncapped_pairs"] = lsh_candidate_pairs(sigs).count()
        row["uncapped_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        row["capped_pairs"] = lsh_candidate_pairs(
            sigs, band_df_cap=BAND_DF_CAP_DEFAULT
        ).count()
        row["capped_s"] = round(time.perf_counter() - t0, 2)
        # exact-first: collapse identical texts to one representative,
        # then LSH over the (distinct-text) representatives — the flood
        # is ONE node; its membership rides the exact-dup groups
        reps = (
            docs.groupBy("text")
            .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("grp"))
        ).localCheckpoint()
        rep_sigs = minhash_signatures(
            shingle_table(reps.select("doc_id", "text"))
        )
        t0 = time.perf_counter()
        row["exact_first_pairs"] = lsh_candidate_pairs(rep_sigs).count()
        row["exact_first_s"] = round(time.perf_counter() - t0, 2)
        row["exact_groups_collapsed"] = reps.where(F.col("grp") > 1).count()
        out[tag] = row
    for kk in ("uncapped_pairs", "capped_pairs", "exact_first_pairs"):
        out[f"{kk}_growth"] = round(
            out["x10"][kk] / max(out["x1"][kk], 1), 1
        )
    return out


# ---------------------------------------------------------------------------
# admission probe: fixed batch vs growing corpus — the incremental
# admission contract is "per-batch work scales with the batch plus its
# collisions, never with corpus size", so the verify stage's SHUFFLE
# bytes must stay ~flat when the old zone grows 10x under a constant
# batch (the corpus is scanned — that part is linear and unavoidable —
# but never re-aggregated or re-signed)


def _admission_at_scale(spark, d: str, n_old: int, n_new: int) -> dict:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.dedup import (
        band_table,
        incremental_admission,
        minhash_signatures,
        shingle_table,
    )

    tag = f"{n_old}_{n_new}"
    docs0 = _zipf_docs(spark, n_old + n_new)
    # plant CROSS-ZONE dups (zipf's planted dups copy the predecessor,
    # which keeps them inside one zone): every even batch doc is an
    # exact copy of an old-zone doc, so the verify stage has real work
    # and half the batch must be rejected at every corpus size
    donors = docs0.where(F.col("doc_id") < n_new).select(
        (F.col("doc_id") + n_old).alias("doc_id"),
        F.col("text").alias("dup_text"),
    )
    docs = docs0.join(donors, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("dup_text").isNotNull() & (F.col("doc_id") % 2 == 0),
            F.col("dup_text"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # persisted zone artifacts, exactly like production: staging
    # shingles, the old zone's band index, per-doc sizes
    sh_path = f"{d}/sh_{tag}"
    shingle_table(docs).write.parquet(sh_path)
    sh = spark.read.parquet(sh_path)
    bands_path = f"{d}/bands_{tag}"
    band_table(
        minhash_signatures(sh.where(F.col("doc_id") < n_old))
    ).write.parquet(bands_path)
    sizes_path = f"{d}/sizes_{tag}"
    sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).write.parquet(
        sizes_path
    )
    new_ids = (
        spark.range(n_old, n_old + n_new).select(F.col("id").alias("doc_id"))
    )
    out: dict = {"n_old": n_old, "n_new": n_new}
    verdicts = incremental_admission(
        new_ids,
        sh,
        spark.read.parquet(bands_path),
        sizes=spark.read.parquet(sizes_path),
    )
    with profile(spark) as rec:
        verdicts.write.format("noop").mode("overwrite").save()
    out["wall_s"] = round(rec.wall_s, 2)
    out["shuffle_mb"] = round(rec.totals["shuffle_write_bytes"] / 1e6, 2)
    out["rejected"] = verdicts.where(~F.col("admitted")).count()
    return out


def probe_admission(spark) -> dict:
    """Constant 2k-doc batch against a 20k vs 200k old zone: verify
    shuffle stays batch-bounded while only the (linear, unavoidable)
    artifact scan grows."""
    d = tempfile.mkdtemp(prefix="probe_admission_")
    out: dict = {"probe": "admission", "batch": 2_000}
    out["x1"] = _admission_at_scale(spark, d, 20_000, 2_000)
    out["x10"] = _admission_at_scale(spark, d, 200_000, 2_000)
    for k in ("shuffle_mb", "wall_s"):
        if k in out["x1"] and k in out["x10"]:
            out[f"{k}_growth"] = round(
                out["x10"][k] / max(out["x1"][k], 0.01), 2
            )
    return out


# ---------------------------------------------------------------------------
# entity-count growth probe: 10x distinct USERS, constant events-per-user


def _users_events_dir(spark, d: str, n_users: int, epu: int = 20) -> str:
    """A synthetic sf-dir whose events.parquet has ``n_users`` distinct
    users x ``epu`` events each, schema-identical to the testdata
    events table (so registry queries run on it unchanged). Pure
    codegen; seeded hashes, no rand."""
    n = n_users * epu
    span_us = DAYS * 86_400_000_000
    path = f"{d}/u{n_users}"
    etypes = F.array(
        *[F.lit(t) for t in ("view", "click", "purchase", "signup", "error")]
    )
    (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_756_684_800_000_000)  # 2025-09-01 UTC
                + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(span_us))
            ).alias("ts"),
            F.pmod(F.col("id"), F.lit(n_users)).alias("user_id"),
            F.element_at(
                etypes,
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10_000)) / 100.0).alias(
                "value"
            ),
            F.concat(
                F.lit('{"k": '),
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(100)).cast("string"),
                F.lit("}"),
            ).alias("props"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(path, "events.parquet"))
    )
    return path


USERS_FAMILY = (
    "rfm_segments",
    "first_touch_attribution",
    "user_erasure_report",
    "user_journeys",
)


def probe_users(spark) -> dict:
    """Per-ENTITY dimension growth: 10x distinct users at constant
    events-per-user (the skew probe covers one hot key; this covers the
    user universe itself outgrowing the cluster's imagination). For
    every per-user query the invariant is BALANCE, not absolute size:
    per-user state is constant, so the heaviest task's shuffle read
    must stay within a small factor of the median task at BOTH scales —
    a straggler factor that grows with user count means some stage is
    concentrating the user dimension into one task (the old rfm ntile
    plan: every user in one reducer; its x10 factor was the task
    count)."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry

    qs = registry.queries()
    d = tempfile.mkdtemp(prefix="probe_users_")
    out: dict = {"probe": "users", "events_per_user": 20}
    for tag, n_users in (("x1", 100_000), ("x10", 1_000_000)):
        sf_dir = _users_events_dir(spark, d, n_users)
        row: dict = {"n_users": n_users, "n_events": n_users * 20}
        for name in USERS_FAMILY:
            with profile(spark) as rec:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            row[name] = {
                "wall_s": round(rec.wall_s, 2),
                **_heaviest_stage_tasks(rec),
                "shuffle_mb": _shuffle_mb(rec),
            }
        # r10 (verdict #5): the broadcast-ntile rfm plan derives its
        # quartile cuts ONCE per source identity and memoizes the
        # composites on the driver — prove that state is dims x
        # (tiles-1), flat in n_users (the collect that could have been
        # data-sized is the per-partition counts, n_part rows).
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.memo import MEMO

        per_entry = [
            sum(len(dim) for dim in cuts) for cuts in MEMO.entries("cuts")
        ]
        row["rfm_cut_driver_state"] = {
            "memo_entries": len(per_entry),
            "max_composites_per_entry": max(per_entry, default=0),
        }
        out[tag] = row
    for name in USERS_FAMILY:
        f1 = out["x1"][name].get("straggler_factor")
        f10 = out["x10"][name].get("straggler_factor")
        if f1 is not None and f10 is not None:
            out.setdefault("straggler_x1_vs_x10", {})[name] = [f1, f10]
            # bounded: the x10 factor stays within noise of x1 (task
            # walls are small; byte reads are the stable signal)
            r1 = out["x1"][name].get("task_read_max_mb", 0.0)
            r1m = max(out["x1"][name].get("task_read_med_mb", 0.0), 0.1)
            r10 = out["x10"][name].get("task_read_max_mb", 0.0)
            r10m = max(out["x10"][name].get("task_read_med_mb", 0.0), 0.1)
            out.setdefault("read_balance_x1_vs_x10", {})[name] = [
                round(r1 / r1m, 1),
                round(r10 / r10m, 1),
            ]
    return out


PROBES = {"events": probe_events, "sketch": probe_sketch, "ann": probe_ann, "iterative": probe_iterative, "dedup": probe_dedup, "skew": probe_skew, "skewjoin": probe_skewjoin, "dupflood": probe_dupflood, "admission": probe_admission, "users": probe_users}


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    names = list(PROBES) if which == "all" else [which]
    spark = get_spark(app_name="scale-probe")
    for n in names:
        out = PROBES[n](spark)
        print(json.dumps(out), flush=True)
        artifact = {
            "skew": "SKEW_PROBE.json",  # r5 verdict item 1
            "dupflood": "PROBE_DUPFLOOD.json",  # hot-LSH-bucket hazard
            "dedup": "PROBE_DEDUP_10X.json",  # sub-quadratic growth
            "admission": "PROBE_ADMISSION.json",  # batch-bounded verify
            "users": "PROBE_USERS.json",  # entity-count growth balance
            "skewjoin": "PROBE_SKEWJOIN.json",  # AQE skew-join measured
        }.get(n)
        if artifact:
            p = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "docs",
                artifact,
            )
            with open(p, "w") as f:
                json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
