"""Approximate nearest-neighbor search over embedding columns.

Two tiers (SURVEY.md §2.5 ext_sim_topk):

* brute-force cosine top-k (queries/vectors_q.py) — the exact baseline,
  quadratic; fine when one side is small enough to broadcast;
* **sign-LSH bucketing** (here) — random-hyperplane signatures: vectors
  agreeing on all ``nbits`` signs land in one bucket, search runs
  within-bucket only. At 100 TB: bucket id is the shuffle key, each
  bucket is a small local problem, and recall tunes with ``nbits``
  (fewer bits -> bigger buckets -> higher recall, more compute).

The hyperplanes are generated from a fixed seed and inlined as literal
arrays in BOTH the Spark plan and the DuckDB oracle — float64 literals
round-trip exactly, so the sign bits (and therefore buckets) agree
bit-for-bit across engines.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vectors import dot
from ..memo import MEMO, frame_key


def _fold_sq(coords: list[float]) -> float:
    """Driver-side twin of ``F.aggregate(c, 0.0, acc + x*x)`` — the same
    sequential left fold over float64, so the result is bit-identical to
    the expression it replaces as a literal."""
    acc = 0.0
    for x in coords:
        acc = acc + x * x
    return acc


def collect_query_vectors(
    emb: "DataFrame", n_queries: int
) -> list[tuple[int, list[float]]]:
    """ONE driver collect of the query slice, shared by every consumer
    of query-side state (probe assignment, PQ lookup tables, query
    norms). Before this, each consumer ran its own collect job over the
    same ``vec_id < n_queries`` rows — one full Spark job plus plan
    analysis apiece, pure fixed cost at any scale. float32 -> float64
    is exact, so downstream driver-side folds see the same values the
    in-plan expressions would.

    Memoized per (``memo.frame_key``, n): seven ANN/similarity queries
    collect the same bounded slice — re-running the scan job per query
    is pure fixed cost."""

    def collect() -> list[tuple[int, list[float]]]:
        return sorted(
            (int(r["vec_id"]), [float(x) for x in r["v"]])
            for r in emb.where(F.col("vec_id") < n_queries)
            .select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
            .collect()
        )

    key = frame_key(emb)
    return MEMO.get(
        "query_vectors", None if key is None else (*key, n_queries), collect
    )


def _probe_cells_driver(
    q_vecs: list[tuple[int, list[float]]],
    cents: list[tuple[int, list[float]]],
    top: int,
) -> list[tuple[int, int]]:
    """Driver-side twin of :func:`_assign_to_centroids` for the QUERY
    side: d2 expanded as fold(v,v) - 2*fold(v,c) + fold_sq(c) — the
    exact sequential float64 folds of the in-plan expression, so the
    (d2, cid) ranking (ties on cid) is bit-identical — evaluated over
    the tiny query set in Python instead of spending a Spark job and a
    plan analysis on n_queries x n_centroids arithmetic. The CORPUS
    side keeps the distributed operator."""
    pairs: list[tuple[int, int]] = []
    for qid, v in q_vecs:
        dvv = _fold_dot(v, v)
        ranked = sorted(
            (dvv - 2 * _fold_dot(v, coords) + _fold_sq(coords), int(cid))
            for cid, coords in cents
        )
        pairs.extend((qid, cid) for _, cid in ranked[:top])
    return pairs


def _fold_dot(xs: list[float], ys: list[float]) -> float:
    """Driver-side sequential-fold dot product — bit-identical to the
    ``F.aggregate(zip_with(...), 0.0, acc + x*y)`` expression. DuckDB's
    ``list_dot_product`` agrees to within an ulp (its reduction order
    is not guaranteed identical); every oracle-compared similarity
    OUTPUT therefore rounds to 4 dp, which absorbs the residual, and
    unrounded values are used only as ordering keys where ties are
    broken by id."""
    acc = 0.0
    for a, b in zip(xs, ys):
        acc = acc + a * b
    return acc

# Recall/cost dial (sign-LSH): P(neighbor at angle theta shares one
# table's bucket) = (1 - theta/pi)^ANN_BITS; OR over ANN_TABLES tables
# amplifies recall, bucket size ~ corpus/2^ANN_BITS bounds cost. On the
# driver's UNCLUSTERED embeddings (top-5 sims ~0.3) 6 bits x 8 tables
# predicts recall ~0.35 (measured in tests/test_ann_recall.py); fewer
# bits / more tables buys recall linearly in candidate work.
ANN_BITS = 6
ANN_DIM = 64
ANN_SEED = 7
ANN_TABLES = 8  # OR-amplification: candidate if SAME bucket in ANY table


@lru_cache(maxsize=None)
def hyperplanes(nbits: int = ANN_BITS, dim: int = ANN_DIM, seed: int = ANN_SEED):
    rng = np.random.default_rng(seed)
    return tuple(tuple(float(x) for x in row) for row in rng.standard_normal((nbits, dim)))


def _plane_dot(emb: Column | str, plane: tuple[float, ...]) -> Column:
    # one parsed literal, not len(plane) py4j F.lit calls (driver-time
    # hotspot at n_tables x nbits planes); CAST('repr' AS DOUBLE)
    # round-trips float64 exactly. For plain column names the WHOLE
    # fold is one SQL parse (r11: the DSL zip_with/aggregate pair cost
    # ~45 ms of py4j chatter per plane — at nbits planes per bucket
    # expression that dominated LSH-query plan construction); the
    # spelling is the shared functions.vectors.fold_dot_sql, with
    # cast_right=False because the plane literal is already double.
    from ..functions.vectors import fold_dot_sql, is_plain_name

    arr_sql = "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane) + ")"
    if is_plain_name(emb):
        return F.expr(fold_dot_sql(f"`{emb}`", arr_sql, cast_right=False))
    c = F.col(emb) if isinstance(emb, str) else emb
    prods = F.zip_with(c, F.expr(arr_sql), lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def bucket_expr(emb: Column | str = "embedding", nbits: int = ANN_BITS,
                dim: int = ANN_DIM, seed: int = ANN_SEED) -> Column:
    """Sign-bit bucket id as a '0'/'1' string of length nbits."""
    bits = [
        F.when(_plane_dot(emb, p) > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in hyperplanes(nbits, dim, seed)
    ]
    return F.concat(*bits)


def bucket_sql(emb_sql: str = "CAST(embedding AS DOUBLE[])", nbits: int = ANN_BITS,
               dim: int = ANN_DIM, seed: int = ANN_SEED) -> str:
    """The DuckDB spelling of :func:`bucket_expr` with identical plane
    literals (repr round-trips float64 exactly)."""
    parts = []
    for p in hyperplanes(nbits, dim, seed):
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        parts.append(
            f"CASE WHEN list_dot_product({emb_sql}, {arr}) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


IVF_NCENTROIDS = 16
IVF_NPROBE = 2
IVF_KMEANS_ITERS = 2

# Quantizer-state routing: below this many doubles (k x (dim+1)) the
# centroid set inlines into the plan as literals (zero join, fastest to
# analyze); above it the state ships as a BROADCAST relation instead —
# at production scale (4096 centroids x 768 dims ~ 3M doubles) a
# literal plan is megabytes re-parsed per query, while a broadcast is
# shipped once per executor and the plan stays O(1). Both paths use the
# identical sequential-fold float64 arithmetic, so assignments are
# bit-for-bit equal (tests/test_plans_r3.py pins both properties).
LITERAL_STATE_MAX_DOUBLES = 4096

# Truncated 6-dp per-dimension centroid mean in exact arithmetic:
# addends -> DECIMAL(24,8) (deterministic per-value rounding), exact
# decimal SUM -> scaled BIGINT, integer division. Cross-engine
# bit-identical centroids are what keep the refined-IVF oracle green —
# a plain AVG(double) mean would drift by an ulp between engines and
# flip cell assignments. (Same construction as scalars.dec_avg_trunc4,
# at 6 dp.)
from ..functions.scalars import dec_avg_trunc_sql

MEAN_TRUNC6_SQL = dec_avg_trunc_sql("x", "spark", 6)


def _assign_to_centroids(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    top: int,
    mode: str | None = None,
) -> DataFrame:
    """Nearest-centroid ranking per vector: squared L2 expanded as
    ||v||^2 - 2 v.c + ||c||^2, ties on centroid id. Returns (vec_id,
    centroid_id, crank) for crank <= top; crank=1 is the home cell.

    Ranking is a per-row ``array_sort`` over (d2, cid) structs — a pure
    projection, no shuffle, no per-vector window: at 100 TB the corpus
    streams through map tasks. The centroid state reaches the rows one
    of two ways, chosen by size (``mode`` forces it):

    * ``literal`` (state <= LITERAL_STATE_MAX_DOUBLES): inlined into
      the plan — zero join, O(1) analysis at small k x dim;
    * ``broadcast`` (the at-scale default): the centroid set is packed
      into a ONE-ROW DataFrame (collect_list of structs) and
      broadcast-crossJoined to the corpus — the plan stays O(1) bytes
      regardless of k x dim, and the state ships once per executor
      like any dimension table.

    Both paths compute every term (v.v, v.c, c.c) as a sequential
    in-order float64 fold, so d2 is bit-identical BETWEEN the two
    transports; the DuckDB oracle's ``list_dot_product`` spelling
    agrees to within an ulp, and the (d2, cid) sort key with id
    tie-break keeps the ranking stable across that residual (output
    sims additionally round to 4 dp). The packing order of the
    broadcast array is irrelevant to the sort.
    """
    if not cents:
        # empty quantizer (empty corpus snapshot): no cells exist — an
        # empty assignment, not an indexing crash (empty partitions are
        # a fact of life for scheduled index builds)
        return emb.sparkSession.createDataFrame(
            [], "vec_id bigint, centroid_id bigint, crank bigint"
        )
    if mode is None:
        state = len(cents) * (len(cents[0][1]) + 1)
        mode = "literal" if state <= LITERAL_STATE_MAX_DOUBLES else "broadcast"
    base = emb.select(
        "vec_id", "embedding", dot("embedding", "embedding").alias("_dvv")
    )
    if mode == "broadcast":
        packed = (
            emb.sparkSession.createDataFrame(
                [
                    (float(_fold_sq(coords)), int(cid), [float(x) for x in coords])
                    for cid, coords in cents
                ],
                "cn2 double, centroid_id bigint, cvec array<double>",
            )
            .agg(
                F.collect_list(F.struct("cn2", "centroid_id", "cvec")).alias(
                    "_cents"
                )
            )
        )
        entries = F.transform(
            F.col("_cents"),
            lambda cm: F.struct(
                (
                    F.col("_dvv")
                    - 2
                    * F.aggregate(
                        F.zip_with(
                            F.col("embedding"),
                            cm["cvec"],
                            lambda a, b: a.cast("double") * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    + cm["cn2"]
                ).alias("d2"),
                cm["centroid_id"].alias("centroid_id"),
            ),
        )
        ranked = F.array_sort(entries)
        return (
            base.join(F.broadcast(packed))
            .select("vec_id", F.posexplode(F.slice(ranked, 1, top)).alias("rk", "s"))
            .select(
                "vec_id",
                F.col("s.centroid_id").alias("centroid_id"),
                (F.col("rk") + 1).cast("bigint").alias("crank"),
            )
        )
    # NOTE: callers widen() the corpus input ONCE before the loop /
    # search — widening here would re-trigger query planning (via
    # .rdd.getNumPartitions) on every per-iteration call
    #
    # ONE lambda over a literal centroid matrix, not n_centroids copies
    # of a 64-element fold subtree: Catalyst analysis + codegen cost is
    # O(1) in the number of cells, which dominated wall time (the tree
    # with unrolled per-centroid subtrees cost ~2 s PER JOB at 16x64).
    # The matrix literal is ONE parsed SQL expression, not nested
    # F.lit() — building 16x64 Literal nodes through py4j costs ~1 s of
    # driver time PER CALL; parsing the equivalent string is ~5 ms.
    # CAST('repr' AS DOUBLE) round-trips float64 exactly.
    #
    # Two per-row constants are hoisted OUT of the per-centroid lambda
    # (HOF lambdas are interpreted, not codegen'd, and get no CSE):
    # ||v||^2 is projected once per row instead of once per centroid,
    # and ||c||^2 — a per-centroid constant — is folded at the DRIVER
    # with the same sequential left fold (acc + x*x over float64) the
    # removed F.aggregate performed, so the literal is bit-identical
    # and d2 keeps matching the DuckDB oracle's spelling exactly.
    cmat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in coords) + ")"
            for _, coords in cents
        )
        + ")"
    )
    cmeta = F.expr(
        "array("
        + ",".join(
            f"named_struct('cn2', CAST('{_fold_sq(coords)!r}' AS DOUBLE), "
            f"'cid', CAST({int(cid)} AS BIGINT))"
            for cid, coords in cents
        )
        + ")"
    )
    entries = F.zip_with(
        cmat,
        cmeta,
        lambda c, m: F.struct(
            (
                F.col("_dvv")
                - 2
                * F.aggregate(
                    F.zip_with(
                        F.col("embedding"), c, lambda a, b: a.cast("double") * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                + m["cn2"]
            ).alias("d2"),
            m["cid"].alias("centroid_id"),
        ),
    )
    ranked = F.array_sort(entries)
    return base.select(
        "vec_id", F.posexplode(F.slice(ranked, 1, top)).alias("rk", "s")
    ).select(
        "vec_id",
        F.col("s.centroid_id").alias("centroid_id"),
        (F.col("rk") + 1).cast("bigint").alias("crank"),
    )


def kmeans_centroid_list(
    emb: DataFrame,
    n_centroids: int = IVF_NCENTROIDS,
    n_iters: int = IVF_KMEANS_ITERS,
) -> list[tuple[int, list[float]]]:
    """IVF training: deterministic Lloyd refinement of sampled seeds.

    Init = the first ``n_centroids`` vectors (the sampled-training-point
    quantizer); each of the FIXED ``n_iters`` iterations reassigns every
    vector to its nearest centroid (literal-centroid map-side ranking —
    no shuffle) and recomputes per-dimension means in exact
    truncated-decimal arithmetic (MEAN_TRUNC6_SQL). Fixed iteration
    count + exact means + id tie-breaks = the whole training is
    reproducible and has a DuckDB oracle twin.

    The per-iteration ``collect()`` moves only ``n_centroids x dim``
    doubles (16 x 64 here) — centroid state is tiny by construction;
    the corpus-side mean reduction stays distributed. At 100 TB that is
    still the right shape: k-means-on-Spark keeps centroids as
    broadcast/literal state and streams the corpus; the quantizer
    trains on a SAMPLE once and is persisted/reused across queries —
    retraining per query here is a harness artifact.
    """
    from .scale import widen

    base = widen(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = base.where(F.col("vec_id") < n_centroids).collect()
    cents = sorted((r["vec_id"], list(r["v"])) for r in seeds)
    if not cents:
        # empty corpus snapshot: no seeds, no quantizer — callers get
        # an empty centroid list and serve empty results
        return []

    for _ in range(n_iters):
        assign = _assign_to_centroids(
            base.select("vec_id", F.col("v").alias("embedding")), cents, top=1
        )
        means = (
            base.join(assign.select("vec_id", "centroid_id"), "vec_id")
            .select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.expr(MEAN_TRUNC6_SQL).alias("coord"))
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means.collect():
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = r["coord"]
        # empty clusters simply drop out (same on both engines — the
        # assignment that emptied them is identical)
        cents = sorted(
            (cid, [coords[p] for p in sorted(coords)])
            for cid, coords in by_cid.items()
        )
    return cents


def ivf_topk(
    emb: DataFrame,
    n_queries: int,
    k: int,
    n_centroids: int = IVF_NCENTROIDS,
    nprobe: int = IVF_NPROBE,
    n_iters: int = IVF_KMEANS_ITERS,
    cents: list[tuple[int, list[float]]] | None = None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF search: corpus vectors live in their home cell (crank=1);
    each query probes its ``nprobe`` nearest cells and ranks exact
    cosine only within them. Scale shape: the shuffle key is the cell
    id, per-cell work is (cell size x nprobe queries), recall tunes
    with nprobe — the inverted-file trade. Cells come from the
    deterministic k-means quantizer (``n_iters=0`` falls back to raw
    sampled seeds).

    The query-side probe assignments are collected at the driver — the
    query set is tiny by definition (same justification as the query
    matrix in :func:`topk_matmul_arrow`), and collecting them means the
    centroid-distance expression is evaluated exactly once over the
    corpus and once over the queries, never re-derived per plan branch.
    """
    from pyspark.sql.window import Window

    from ..functions.vectors import norm
    from .scale import widen

    if cents is None or corpus_cells is None:
        # building quantizer state / the inverted file is a full-corpus
        # compute pass — parallelize the scan; the serving path below
        # (prebuilt cents + cells) only probes and never needs it
        emb = widen(emb)
    if cents is None:
        if n_iters > 0:
            cents = kmeans_centroid_list(emb, n_centroids, n_iters)
        else:
            cents = sorted(
                (r["vec_id"], [float(x) for x in r["embedding"]])
                for r in emb.where(F.col("vec_id") < n_centroids)
                .select("vec_id", "embedding")
                .collect()
            )
    if corpus_cells is None:
        # the inverted file: each vector's home cell. In production
        # this is materialized once per snapshot (pass corpus_cells).
        corpus_cells = _assign_to_centroids(emb, cents, top=1).select(
            "vec_id", "centroid_id"
        )
    # zero-norm vectors have no cosine direction: they keep a home cell
    # in the index, but are excluded from ranking on BOTH sides (query
    # and candidate) — without this, ANSI division raises on the first
    # all-zero embedding a real corpus contains
    corpus = (
        emb.select("vec_id", "embedding")
        .where(norm("embedding") > 0)
        .join(corpus_cells, "vec_id")
    )
    probe_df = emb.sparkSession.createDataFrame(
        _probe_cells_driver(
            collect_query_vectors(emb, n_queries), cents, max(nprobe, 1)
        ),
        "qid bigint, centroid_id bigint",
    )
    probes = probe_df.join(
        emb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            norm("embedding").alias("qn"),
        )
        .where(F.col("qn") > 0),
        "qid",
    )
    cands = corpus.join(F.broadcast(probes), "centroid_id").where(
        F.col("vec_id") != F.col("qid")
    )
    # corpus-side norm folds on probed-cell members only (post-join) —
    # same expression and values as folding over the whole corpus first
    sim = F.round(
        dot("qv", "embedding") / (F.col("qn") * norm("embedding")), 4
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    # no dedup needed: each corpus vector has exactly one home cell, so
    # a (qid, nid) pair arises from at most one probed cell
    return (
        cands.select("qid", F.col("vec_id").alias("nid"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
    )


def topk_matmul_arrow(
    emb: DataFrame,
    n_queries: int,
    k: int,
    rescore_margin: int = 5,
) -> DataFrame:
    """Brute-force top-k cosine via Arrow-batched numpy matmul.

    Same semantics as the Column-expression version
    (queries/vectors_q.py::sim_topk_bruteforce) but each Arrow batch
    computes one (batch x dim) @ (dim x n_queries) matrix product
    instead of per-row fold expressions — the pattern that wins once
    dim x candidates is large (BLAS vs interpreted higher-order
    functions). The query matrix is collected once (tiny) and shipped
    inside the closure; the corpus side streams through executors.

    Determinism: BLAS accumulates pairwise/in-register, so a dot
    product can land within an ulp of a 4-dp rounding boundary and
    disagree with a sequential in-order fold. The matmul therefore only
    PRUNES — per query the top ``k + rescore_margin`` candidates by
    approximate sim — and the survivors (a few rows per query) are
    re-scored with the same sequential-fold ``aggregate`` expression
    the exact baseline uses. Final sims are bit-identical to the
    fold-order reference regardless of BLAS/batching, while the heavy
    corpus scan stays vectorized.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    # zero-norm vectors (cosine undefined) sit out on both sides; the
    # matmul path would otherwise emit NaN sims (0/0) for them
    from ..functions.vectors import norm as _norm_expr

    emb = emb.where(_norm_expr("embedding") > 0)
    q_rows = (
        emb.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = [r["vec_id"] for r in q_rows]
    if not qids:
        # no usable query vectors (empty corpus / all zero-norm): the
        # result is an empty frame, not a 0-column matmul crash
        return emb.sparkSession.createDataFrame(
            [], "qid bigint, nid bigint, sim double, rn bigint"
        )
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    out_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("nid", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def _sims(batches):
        import numpy as _np
        import pandas as _pd

        _qids = _np.array(qids, dtype=_np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            v = _np.stack(pdf["embedding"].map(_np.asarray)).astype(_np.float64)
            vnorm = _np.sqrt((v * v).sum(axis=1))
            sims = (v @ qmat.T) / _np.outer(vnorm, qnorm)  # (B, nq)
            b = len(pdf)
            yield _pd.DataFrame(
                {
                    "qid": _np.repeat(_qids.reshape(1, -1), b, axis=0).ravel(),
                    "nid": _np.repeat(pdf["vec_id"].to_numpy(_np.int64), len(_qids)),
                    "sim": sims.ravel(),  # unrounded: prune key only
                }
            )

    from ..functions.vectors import norm

    approx = (
        emb.select("vec_id", "embedding")
        .mapInPandas(_sims, out_schema)
        .where(F.col("nid") != F.col("qid"))
    )
    # Boundary guard on the prune cut: BLAS sims can sit within an ulp
    # of the sequential-fold value, so a candidate exactly AT the
    # k+margin cut could be kept or dropped depending on summation
    # order — flaky by construction. Keep everything within EPS of the
    # cut value as well; |blas - fold| is ~1e-14 at dim 64, so 1e-9
    # covers it with orders of magnitude to spare while admitting at
    # most a handful of extra rescore rows per query.
    _CUT_EPS = 1e-9
    wp = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    wq = Window.partitionBy("qid")
    cut = F.max(
        F.when(F.col("prn") == k + rescore_margin, F.col("sim"))
    ).over(wq)
    cand = (
        approx.withColumn("prn", F.row_number().over(wp))
        .withColumn("_cut", cut)
        .where(
            (F.col("prn") <= k + rescore_margin)
            | F.col("_cut").isNull()
            | (F.col("sim") >= F.col("_cut") - F.lit(_CUT_EPS))
        )
        .select("qid", "nid")
    )
    # exact re-score of the tiny candidate set: corpus streams, the
    # (n_queries x (k+margin)) candidate list and query vectors broadcast
    nvecs = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        norm("embedding").alias("nn"),
    )
    qvecs = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        norm("embedding").alias("qn"),
    )
    rescored = (
        nvecs.join(F.broadcast(cand), "nid")
        .join(F.broadcast(qvecs), "qid")
        .select(
            "qid",
            "nid",
            F.round(dot("qv", "nv") / (F.col("qn") * F.col("nn")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        rescored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
    )


def lsh_bands(
    emb: DataFrame, nbits: int = ANN_BITS, n_tables: int = ANN_TABLES
) -> DataFrame:
    """(vec_id, tbl, bucket) over all hash tables — the sign-LSH INDEX.
    In production this is built once per corpus snapshot and persisted;
    searches join it, they don't re-hash the corpus."""
    tables = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    bucket_expr("embedding", nbits, seed=ANN_SEED + t).alias(
                        "bucket"
                    ),
                )
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    return emb.select("vec_id", tables).select("vec_id", "tb.tbl", "tb.bucket")


def ann_topk_bucketed(
    emb: DataFrame,
    n_queries: int,
    k: int,
    nbits: int = ANN_BITS,
    n_tables: int = ANN_TABLES,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Within-bucket top-k cosine for query vectors (vec_id < n_queries).

    ``n_tables`` independent hash tables (hyperplane seeds
    ``ANN_SEED + t``) with OR-amplification: a corpus vector is a
    candidate if it shares the query's bucket in ANY table — the
    standard recall lever for sign-LSH (one ``nbits``-bit table alone
    has P(candidate) = ((1 - theta/pi)^nbits), near zero for the
    moderate-similarity neighbors that dominate real top-k sets).

    Scale shape: the bucket join carries only ids (never vectors), the
    candidate set is de-duplicated before vectors are fetched, so work
    is sum of bucket sizes across tables, still never corpus^2. sim is
    rounded to 4 dp BEFORE ranking (deterministic cross-engine order;
    ties break on neighbor id).
    """
    from pyspark.sql.window import Window

    from ..functions.vectors import norm
    from .scale import widen

    if bands is None:
        # signature computation is a full-corpus fold pass — parallelize
        # the scan; the artifact-served path never touches it
        emb = widen(emb)
        bands = lsh_bands(emb, nbits, n_tables)
    qb = bands.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand = (
        bands.join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
        .distinct()
    )
    # zero-norm vectors (cosine undefined) are excluded from ranking on
    # both sides; they may still occupy buckets in the band index
    qv = (
        emb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            norm("embedding").alias("qn"),
        )
        .where(F.col("qn") > 0)
    )
    # corpus-side norm folds on candidates only (post-join) — same
    # expression and values as folding over the whole corpus first
    pairs = (
        emb.select("vec_id", "embedding")
        .where(norm("embedding") > 0)
        .join(cand, F.col("vec_id") == F.col("nid"))
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "nid",
            F.round(
                dot("qvec", "embedding") / (F.col("qn") * norm("embedding")),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= k)
    )


def blocked_neardup_matmul(
    emb: DataFrame,
    key_col: str,
    threshold: float,
    chunk_rows: int = 1024,
) -> DataFrame:
    """All same-block pairs with cosine >= ``threshold`` (4-dp rounded),
    via per-block Arrow matmul — the threshold-query sibling of
    :func:`topk_matmul_arrow` and the faiss-style upgrade of the
    Column-expression pairwise join in
    queries/vectors_q.py::embed_neardup_cosine (measured there: 15.1 s
    -> ~1 s over the sf1 pair mass).

    Same determinism contract as every matmul tier here: BLAS only
    PRUNES. Inside each block the kernel computes the approximate sim
    matrix chunk-by-chunk and keeps pairs above ``threshold`` minus a
    slack that covers BOTH the 4-dp rounding boundary (5e-5: an exact
    sim as low as t-0.00005 still rounds UP to t) and the BLAS-vs-fold
    accumulation gap (~n*ulp, orders of magnitude below the slack).
    Survivors get their dot product and both norms recomputed with the
    EXACT left-to-right index-order fold (a d-step vectorized loop:
    ``acc = acc + a[:, i] * b[:, i]`` reproduces functions/vectors.dot's
    ``aggregate`` semantics bit-for-bit — float32 elements cast to
    float64 before the product, one IEEE add per index, in order). The
    division, 4-dp HALF_UP round, and the real threshold stay JVM-side
    in the caller, so the emitted sims are bit-identical to the pure
    Column-expression plan.

    NULL block keys are dropped (an equi-join on the key never matches
    NULL to NULL); zero-norm vectors (cosine undefined) sit out, same
    rule as every similarity tier. Rows sort by vec_id inside the block
    so the upper-triangle indices emit ``id_a < id_b`` directly.

    Scale: parallelism = block count, memory = one block's vectors plus
    a ``chunk_rows x n`` sim slab — the same per-block bound as any
    blocked pairwise (the label-blocked shape mirrors what LSH band
    buckets generalize when no natural key exists); at corpus scale the
    banded/LSH tiers are the path, as documented on the caller.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.vectors import norm as _norm_expr

    prune = threshold - 5e-5 - 1e-9

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("dot", DoubleType()),
            StructField("na", DoubleType()),
            StructField("nb", DoubleType()),
        ]
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {c.name: pd.Series(dtype="float64" if c.dataType == DoubleType() else "int64")
             for c in out_schema}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(np.int64)
        v = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
        n, d = v.shape
        # exact norms: the same left-to-right fold the JVM expression
        # uses, vectorized across rows (d Python steps, not n*d)
        nacc = np.zeros(n, dtype=np.float64)
        for i in range(d):
            nacc = nacc + v[:, i] * v[:, i]
        nrm = np.sqrt(nacc)
        ai_parts, bi_parts = [], []
        inv = 1.0 / np.where(nrm == 0.0, 1.0, nrm)  # zero-norm pre-filtered
        vn = v * inv[:, None]
        for lo in range(0, n, chunk_rows):
            hi = min(lo + chunk_rows, n)
            sims = vn[lo:hi] @ vn.T  # (chunk, n) approximate
            ci, cj = np.nonzero(sims >= prune)
            gi = ci + lo
            keep = cj > gi  # upper triangle: id_a < id_b after the sort
            ai_parts.append(gi[keep])
            bi_parts.append(cj[keep])
        ai = np.concatenate(ai_parts)
        bi = np.concatenate(bi_parts)
        if ai.size == 0:
            return empty
        va, vb = v[ai], v[bi]
        acc = np.zeros(ai.size, dtype=np.float64)
        for i in range(d):
            acc = acc + va[:, i] * vb[:, i]
        return pd.DataFrame(
            {
                "id_a": ids[ai],
                "id_b": ids[bi],
                "dot": acc,
                "na": nrm[ai],
                "nb": nrm[bi],
            }
        )

    base = (
        emb.where(F.col(key_col).isNotNull())
        .where(_norm_expr("embedding") > 0)
        .select("vec_id", key_col, "embedding")
    )
    return base.groupBy(key_col).applyInPandas(_pairs, out_schema)
