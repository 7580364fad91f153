"""Product-quantization queries: the encoding path is value-checked
against a full DuckDB oracle (with sampled-seed codebooks the nearest-
entry search is pure arithmetic over the same float64 values on both
engines), and the search path is pinned by recall/determinism tests
(tests/test_pq.py) — the PQ prune is engine-internal, so a SQL twin
would have to re-spell the whole LUT machinery for no extra signal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.pq import K_SUB, N_SUB, PQ_ITERS, SUB_DIM, encode_pq, pq_topk, train_pq
from ..operators.similarity import IVF_NPROBE
from ..registry import register
from .similarity_q import ANN_K, ANN_NQUERIES


def _codes_ctes() -> str:
    """Shared CTE chain ending in ``codes(vec_id, c0..c{N_SUB-1})`` —
    per-vector nearest-codebook-entry ids against the sampled-seed
    codebooks, d2 in the expanded list_dot_product spelling (the exact
    arithmetic the Spark side folds)."""
    subs, bests, cols = [], [], []
    for s in range(N_SUB):
        lo, hi = s * SUB_DIM + 1, (s + 1) * SUB_DIM
        d2 = (
            f"list_dot_product(a.v[{lo}:{hi}], a.v[{lo}:{hi}])"
            f" - 2 * list_dot_product(a.v[{lo}:{hi}], s2.v[{lo}:{hi}])"
            f" + list_dot_product(s2.v[{lo}:{hi}], s2.v[{lo}:{hi}])"
        )
        subs.append(
            f"sub{s} AS (SELECT a.vec_id, s2.code, {d2} AS d2 FROM e a, seeds s2)"
        )
        bests.append(
            f"best{s} AS (SELECT vec_id, code FROM ("
            f"SELECT vec_id, code, ROW_NUMBER() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, code) AS rn FROM sub{s}"
            f") WHERE rn = 1)"
        )
        cols.append(f"best{s}.code AS c{s}")
    joins = " ".join(
        f"JOIN best{s} ON best{s}.vec_id = e.vec_id" for s in range(N_SUB)
    )
    return f"""e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
), seeds AS (
    SELECT vec_id AS code, v FROM e WHERE vec_id < {K_SUB}
), {", ".join(subs)}, {", ".join(bests)},
codes AS (
    SELECT e.vec_id, {", ".join(cols)}
    FROM e {joins}
)"""


def _pq_codes_oracle() -> str:
    cols = ", ".join(f"c{s}" for s in range(N_SUB))
    return f"WITH {_codes_ctes()} SELECT vec_id, {cols} FROM codes"


@register("pq_codes", oracle=_pq_codes_oracle())
def pq_codes(spark, sf_dir):
    """PQ encoding, value-checked per vector: every (vector, subspace)
    nearest-codebook-entry decision the Arrow-free engine-side
    projection makes must match DuckDB re-deriving it from the same
    floats — d2 expanded identically (v.v - 2 v.c + c.c, sequential
    folds), ties on code id. Codes project to scalar columns (the
    driver canonicalizer cannot hash array cells). Served from the
    MATERIALIZED code table (pq_codes_table) — integer codes
    round-trip parquet exactly, so the oracle still checks the full
    encoding decision chain."""
    codes = pq_codes_table(spark, sf_dir)
    return codes.select(
        "vec_id", *[F.col("codes")[s].alias(f"c{s}") for s in range(N_SUB)]
    )


def pq_codes_table(spark, sf_dir):
    """Materialized PQ code table — the encoder job's output (the
    ~10^2-compressed representation the search tier scans). Built once
    per corpus snapshot, read by every search."""
    import os

    from ..operators.artifacts import materialized

    def _build():
        emb = load_table(spark, sf_dir, "embeddings")
        return encode_pq(emb, train_pq(emb))

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "pq_codes",
        _build,
        params=f"{N_SUB}x{K_SUB}x{SUB_DIM}:t{PQ_ITERS}",
    )


PQ_RESCORE_MARGIN = 50


def _pq_topk_oracle() -> str:
    """Full SQL twin of the PQ search: re-derive codes, compute each
    query's approximate distance as the sum of per-subspace LUT terms
    (identical expanded-form float arithmetic -> identical (adist, nid)
    prune ordering -> identical candidate set), then exact-rescore and
    rank — matching the Spark path stage for stage."""
    seed_joins = " ".join(
        f"JOIN seeds s{s} ON s{s}.code = c.c{s}" for s in range(N_SUB)
    )
    terms = []
    for s in range(N_SUB):
        lo, hi = s * SUB_DIM + 1, (s + 1) * SUB_DIM
        terms.append(
            f"(list_dot_product(q.v[{lo}:{hi}], q.v[{lo}:{hi}])"
            f" - 2 * list_dot_product(q.v[{lo}:{hi}], s{s}.v[{lo}:{hi}])"
            f" + list_dot_product(s{s}.v[{lo}:{hi}], s{s}.v[{lo}:{hi}]))"
        )
    adist = " + ".join(terms)
    return f"""
WITH {_codes_ctes()},
q AS (SELECT vec_id, v, nrm FROM e WHERE vec_id < {ANN_NQUERIES}),
approx AS (
    SELECT q.vec_id AS qid, c.vec_id AS nid, {adist} AS adist
    FROM q JOIN codes c ON c.vec_id <> q.vec_id {seed_joins}
),
cand AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS prn
        FROM approx
    ) WHERE prn <= {ANN_K + PQ_RESCORE_MARGIN}
),
rescored AS (
    -- zero-norm vectors (cosine undefined) drop at the RESCORE stage,
    -- mirroring the Spark side; the ADC prune above still sees them
    SELECT cand.qid, cand.nid,
           ROUND(list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm), 4) AS sim
    FROM cand
    JOIN e eq ON eq.vec_id = cand.qid AND eq.nrm > 0
    JOIN e en ON en.vec_id = cand.nid AND en.nrm > 0
)
SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rn
FROM (SELECT qid, nid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      FROM rescored)
WHERE rn <= {ANN_K}
"""


def _ivfpq_oracle(nprobe: int) -> str:
    """Combined IVF + PQ oracle: the refined-quantizer assignment chain
    (similarity_q._ivf_ctes) gates which (query, corpus) pairs get a PQ
    approximate distance; prune and exact rescore match the Spark path
    stage for stage."""
    from .similarity_q import IVF_KMEANS_ITERS, IVF_NCENTROIDS, _ivf_ctes

    seed_joins = " ".join(
        f"JOIN seeds s{s} ON s{s}.code = cd.c{s}" for s in range(N_SUB)
    )
    terms = []
    for s in range(N_SUB):
        lo, hi = s * SUB_DIM + 1, (s + 1) * SUB_DIM
        terms.append(
            f"(list_dot_product(q.v[{lo}:{hi}], q.v[{lo}:{hi}])"
            f" - 2 * list_dot_product(q.v[{lo}:{hi}], s{s}.v[{lo}:{hi}])"
            f" + list_dot_product(s{s}.v[{lo}:{hi}], s{s}.v[{lo}:{hi}]))"
        )
    adist = " + ".join(terms)
    return f"""
WITH {_codes_ctes()},
{_ivf_ctes(IVF_NCENTROIDS, IVF_KMEANS_ITERS)},
corpus AS (
    SELECT e.vec_id, centroid_id
    FROM e JOIN assign a ON a.vec_id = e.vec_id AND a.crank = 1
),
probes AS (
    SELECT a.vec_id AS qid, a.centroid_id
    FROM assign a
    WHERE a.vec_id < {ANN_NQUERIES} AND a.crank <= {nprobe}
),
q AS (SELECT vec_id, v FROM e WHERE vec_id < {ANN_NQUERIES}),
approx AS (
    SELECT p.qid, c.vec_id AS nid, {adist} AS adist
    FROM probes p
    JOIN corpus c ON c.centroid_id = p.centroid_id AND c.vec_id <> p.qid
    JOIN codes cd ON cd.vec_id = c.vec_id
    JOIN q ON q.vec_id = p.qid
    {seed_joins}
),
cand AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS prn
        FROM approx
    ) WHERE prn <= {ANN_K + PQ_RESCORE_MARGIN}
),
rescored AS (
    -- zero-norm vectors (cosine undefined) drop at the RESCORE stage,
    -- mirroring the Spark side; the ADC prune above still sees them
    SELECT cand.qid, cand.nid,
           ROUND(list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm), 4) AS sim
    FROM cand
    JOIN e eq ON eq.vec_id = cand.qid AND eq.nrm > 0
    JOIN e en ON en.vec_id = cand.nid AND en.nrm > 0
)
SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rn
FROM (SELECT qid, nid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      FROM rescored)
WHERE rn <= {ANN_K}
"""


def ivfpq_index_table(spark, sf_dir):
    """Combined (vec_id, centroid_id, codes) index — the inverted file
    and the code table stored TOGETHER, as a production IVF-PQ index
    is: the search then probes cells and ranks codes from ONE scan,
    with no corpus-sized vec_id join at query time."""
    import os

    from ..operators.artifacts import materialized
    from .similarity_q import ivf_cells_table

    from .similarity_q import IVF_KMEANS_ITERS, IVF_NCENTROIDS

    def _build():
        return ivf_cells_table(spark, sf_dir).join(
            pq_codes_table(spark, sf_dir), "vec_id"
        )

    # key on BOTH halves of the index: PQ params AND the IVF quantizer
    # config — changing centroid count/iterations must invalidate the
    # cached index, not silently reuse cells from old centroids
    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "ivfpq_index",
        _build,
        params=f"{N_SUB}x{K_SUB}x{SUB_DIM}:t{PQ_ITERS}:i{IVF_NCENTROIDS}x{IVF_KMEANS_ITERS}:v1",
    )


@register("ann_topk_ivfpq", oracle=_ivfpq_oracle(nprobe=IVF_NPROBE))
def ann_topk_ivfpq(spark, sf_dir):
    """The production ANN serving tier (faiss-IVFPQ shape), composed
    entirely from materialized build-once artifacts: the combined
    IVF-PQ index (home cell + codes in one table — no corpus-sized
    join at query time) gates and ranks the candidates without
    touching corpus vectors, and the survivors are exact-rescored.
    Fully oracled end to end — quantizer refinement, cell probing,
    code assignment, LUT distances, prune, and rescore all have SQL
    twins."""
    from ..operators.pq import ivfpq_topk, train_pq
    from .similarity_q import _quantizer_cached

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _quantizer_cached(spark, sf_dir)
    return ivfpq_topk(
        emb,
        ANN_NQUERIES,
        ANN_K,
        cents=cents,
        books=train_pq(emb),
        nprobe=IVF_NPROBE,
        rescore_margin=PQ_RESCORE_MARGIN,
        index=ivfpq_index_table(spark, sf_dir),
    )


@register("ann_topk_pq", oracle=_pq_topk_oracle())
def ann_topk_pq(spark, sf_dir):
    """ext_sim_topk PQ path, now FULLY oracled (upgraded from
    rows-only): codes scan + LUT prune + exact rescore. The LUT terms
    use the expanded d2 spelling with sequential folds, so the
    approximate-distance prune ordering — and therefore the candidate
    set, the rescore, and the final top-k — is bit-identical to the
    DuckDB twin. Scans the MATERIALIZED code table (pq_codes_table) —
    search never re-encodes the corpus."""
    return pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        ANN_NQUERIES,
        ANN_K,
        rescore_margin=PQ_RESCORE_MARGIN,
        codes=pq_codes_table(spark, sf_dir),
    )


def _res_codes_ctes() -> str:
    """CTE chain for RESIDUAL PQ codes: raw vectors -> k-means-refined
    cell assignment (similarity_q._ivf_ctes) -> per-vector residual
    from the home centroid (element-wise subtract — single IEEE ops,
    bit-identical to the Spark ``zip_with`` spelling) -> nearest
    residual-seed codebook entry per subspace. Ends in
    ``rcodes(vec_id, c0..c{N_SUB-1})`` plus ``corpus``/``r``/``rseeds``
    and the ivf chain for downstream reuse."""
    from .similarity_q import _E, _ivf_ctes, IVF_KMEANS_ITERS, IVF_NCENTROIDS

    cent = f"cent{IVF_KMEANS_ITERS}"
    subs, bests, cols = [], [], []
    for s in range(N_SUB):
        lo, hi = s * SUB_DIM + 1, (s + 1) * SUB_DIM
        d2 = (
            f"list_dot_product(a.rv[{lo}:{hi}], a.rv[{lo}:{hi}])"
            f" - 2 * list_dot_product(a.rv[{lo}:{hi}], s2.rv[{lo}:{hi}])"
            f" + list_dot_product(s2.rv[{lo}:{hi}], s2.rv[{lo}:{hi}])"
        )
        subs.append(
            f"rsub{s} AS (SELECT a.vec_id, s2.code, {d2} AS d2 FROM r a, rseeds s2)"
        )
        bests.append(
            f"rbest{s} AS (SELECT vec_id, code FROM ("
            f"SELECT vec_id, code, ROW_NUMBER() OVER "
            f"(PARTITION BY vec_id ORDER BY d2, code) AS rn FROM rsub{s}"
            f") WHERE rn = 1)"
        )
        cols.append(f"rbest{s}.code AS c{s}")
    joins = " ".join(
        f"JOIN rbest{s} ON rbest{s}.vec_id = r.vec_id" for s in range(N_SUB)
    )
    return f"""e AS (
    SELECT vec_id, {_E} AS v,
           sqrt(list_dot_product({_E}, {_E})) AS nrm
    FROM embeddings
),
{_ivf_ctes(IVF_NCENTROIDS, IVF_KMEANS_ITERS)},
corpus AS (
    SELECT e.vec_id, a.centroid_id
    FROM e JOIN assign a ON a.vec_id = e.vec_id AND a.crank = 1
),
r AS (
    SELECT e.vec_id, c.centroid_id,
           list_transform(list_zip(e.v, c2.cvec), s -> s[1] - s[2]) AS rv
    FROM e
    JOIN corpus c ON c.vec_id = e.vec_id
    JOIN {cent} c2 ON c2.centroid_id = c.centroid_id
),
rseeds AS (SELECT vec_id AS code, rv FROM r WHERE vec_id < {K_SUB}),
{", ".join(subs)}, {", ".join(bests)},
rcodes AS (
    SELECT r.vec_id, {", ".join(cols)}
    FROM r {joins}
)"""


def _ivfpq_res_oracle(nprobe: int) -> str:
    """DuckDB twin of the residual IVF-PQ search: per-(query, probed
    cell) residual LUT distances against residual codes, prune, exact
    cosine rescore on RAW vectors — stage for stage the Spark path."""
    from .similarity_q import IVF_KMEANS_ITERS

    cent = f"cent{IVF_KMEANS_ITERS}"
    seed_joins = " ".join(
        f"JOIN rseeds s{s} ON s{s}.code = cd.c{s}" for s in range(N_SUB)
    )
    terms = []
    for s in range(N_SUB):
        lo, hi = s * SUB_DIM + 1, (s + 1) * SUB_DIM
        terms.append(
            f"(list_dot_product(qr.rv[{lo}:{hi}], qr.rv[{lo}:{hi}])"
            f" - 2 * list_dot_product(qr.rv[{lo}:{hi}], s{s}.rv[{lo}:{hi}])"
            f" + list_dot_product(s{s}.rv[{lo}:{hi}], s{s}.rv[{lo}:{hi}]))"
        )
    adist = " + ".join(terms)
    return f"""
WITH {_res_codes_ctes()},
probes AS (
    SELECT a.vec_id AS qid, a.centroid_id
    FROM assign a
    WHERE a.vec_id < {ANN_NQUERIES} AND a.crank <= {nprobe}
),
qr AS (
    SELECT p.qid, p.centroid_id,
           list_transform(list_zip(e.v, c2.cvec), s -> s[1] - s[2]) AS rv
    FROM probes p
    JOIN e ON e.vec_id = p.qid
    JOIN {cent} c2 ON c2.centroid_id = p.centroid_id
),
approx AS (
    SELECT qr.qid, c.vec_id AS nid, {adist} AS adist
    FROM qr
    JOIN corpus c ON c.centroid_id = qr.centroid_id AND c.vec_id <> qr.qid
    JOIN rcodes cd ON cd.vec_id = c.vec_id
    {seed_joins}
),
cand AS (
    SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS prn
        FROM approx
    ) WHERE prn <= {ANN_K + PQ_RESCORE_MARGIN}
),
rescored AS (
    -- zero-norm vectors (cosine undefined) drop at the RESCORE stage,
    -- mirroring the Spark side; the ADC prune above still sees them
    SELECT cand.qid, cand.nid,
           ROUND(list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm), 4) AS sim
    FROM cand
    JOIN e eq ON eq.vec_id = cand.qid AND eq.nrm > 0
    JOIN e en ON en.vec_id = cand.nid AND en.nrm > 0
)
SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rn
FROM (SELECT qid, nid, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      FROM rescored)
WHERE rn <= {ANN_K}
"""


def _res_params() -> str:
    from .similarity_q import IVF_KMEANS_ITERS, IVF_NCENTROIDS

    return (
        f"{N_SUB}x{K_SUB}x{SUB_DIM}:t{PQ_ITERS}:i{IVF_NCENTROIDS}x{IVF_KMEANS_ITERS}:res1"
    )


def _res_books_cached(spark, sf_dir):
    """Train-once residual codebooks (the train_pq(residual_frame)
    seed collect), a materialized artifact like _quantizer_cached: the
    seed slice of the residual frame is a COLLECT over a three-way
    join, and its query-vector memo key (plan semanticHash) is not
    stable across invocations of the joined plan — so without this
    every warm serve re-ran the collect (~3 fixed-cost jobs). Keyed on
    the source file identity + quantizer/PQ params; float64 round-trips
    parquet exactly, so a read-back codebook reproduces LUTs (and the
    oracle match) bit-for-bit."""
    import os

    from ..memo import MEMO, frame_key
    from ..operators.artifacts import materialized
    from ..operators.pq import residual_frame, train_pq
    from .similarity_q import _quantizer_cached, ivf_cells_table

    def _build():
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _quantizer_cached(spark, sf_dir)
        books = train_pq(
            residual_frame(emb, ivf_cells_table(spark, sf_dir), cents)
        )
        return spark.createDataFrame(
            [
                (s, pos, cid, coords)
                for s, book in enumerate(books)
                for pos, (cid, coords) in enumerate(book)
            ],
            "sub int, pos int, cid bigint, v array<double>",
        ).coalesce(1)

    table = materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "pq_res_books",
        _build,
        params=_res_params(),
    )

    def decode():
        books = [[] for _ in range(N_SUB)]
        for r in sorted(table.collect(), key=lambda r: (r["sub"], r["pos"])):
            books[r["sub"]].append((r["cid"], [float(x) for x in r["v"]]))
        return books

    return MEMO.get("pq_books", frame_key(table), decode)


def pq_res_codes_table(spark, sf_dir):
    """Materialized RESIDUAL code table (the faiss-IVFPQ encoder
    output): codes quantize v - centroid[home_cell], preserving
    within-cell resolution (see operators/pq.py::residual_frame)."""
    import os

    from ..operators.artifacts import materialized
    from ..operators.pq import encode_pq, residual_frame, train_pq
    from .similarity_q import _quantizer_cached, ivf_cells_table

    def _build():
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _quantizer_cached(spark, sf_dir)
        res = residual_frame(emb, ivf_cells_table(spark, sf_dir), cents)
        return encode_pq(res, _res_books_cached(spark, sf_dir))

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "pq_res_codes",
        _build,
        params=_res_params(),
    )


def ivfpq_res_index_table(spark, sf_dir):
    """Combined residual index: (vec_id, centroid_id, codes) in one
    table — home cell and residual codes stored together."""
    import os

    from ..operators.artifacts import materialized
    from .similarity_q import ivf_cells_table

    def _build():
        return ivf_cells_table(spark, sf_dir).join(
            pq_res_codes_table(spark, sf_dir), "vec_id"
        )

    return materialized(
        spark,
        os.path.join(sf_dir, "embeddings.parquet"),
        "ivfpq_res_index",
        _build,
        params=_res_params(),
    )


@register("ann_topk_ivfpq_res", oracle=_ivfpq_res_oracle(nprobe=IVF_NPROBE))
def ann_topk_ivfpq_res(spark, sf_dir):
    """The residual-encoding IVF-PQ serving tier — the faiss-shaped
    refinement of ``ann_topk_ivfpq``: PQ codes quantize each vector's
    residual from its home-cell centroid, preserving within-cell
    resolution that raw-vector codes lose on clustered corpora (tight
    cells share raw codes, so the prune degenerates to its id
    tie-break). Measured recall@5, 100k vectors in 100 clusters,
    margins 50/200: raw 16-entry codes 0.08/0.26 vs residual 0.23/0.57;
    at the faiss-standard 256-entry codebooks residual reaches
    0.51/0.90 vs raw 0.48/0.80 (tests/test_pq.py pins the deterministic
    small-corpus ordering). LUTs are per (query, probed cell)
    residuals; prune + exact cosine rescore on raw vectors as in every
    ANN tier. Fully oracled end to end."""
    from ..operators.pq import ivfpq_topk_residual, residual_frame, train_pq
    from .similarity_q import _quantizer_cached, ivf_cells_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _quantizer_cached(spark, sf_dir)
    return ivfpq_topk_residual(
        emb,
        ANN_NQUERIES,
        ANN_K,
        cents=cents,
        books=_res_books_cached(spark, sf_dir),
        nprobe=IVF_NPROBE,
        rescore_margin=PQ_RESCORE_MARGIN,
        index=ivfpq_res_index_table(spark, sf_dir),
    )
