"""Dimensionality reduction for embedding columns: seeded random
projection (Johnson-Lindenstrauss) and distributed PCA.

Random projection is the fully-deterministic tier: the projection
matrix is generated from a fixed seed (same construction as the
sign-LSH hyperplanes, operators/similarity.py) and applied as
sequential-fold dot products, so every projected value has a
byte-equivalent DuckDB oracle. JL guarantees pairwise distances are
preserved within (1 +/- eps) at k = O(log n / eps^2) — the cheap
pre-filter for cosine work when PQ is too lossy.

PCA is the data-dependent tier. The scale shape is the classic
two-step: (1) one Arrow-batched ``mapInPandas`` pass computes
per-partition partial Gram matrices (dim x dim outer-product sums —
numpy inside the batch, no shuffle, no per-row Python), which
``collect`` as n_partitions x dim^2 doubles — bounded by partition
count, not corpus size; (2) the driver sums partials, eigendecomposes
(numpy ``eigh`` on a dim x dim symmetric matrix), and the top-k
components broadcast back (literal/broadcast routing as with IVF
centroids) for a pure-projection transform pass. Eigendecomposition
is not SQL-expressible, so the PCA query registers rows-only; its
correctness evidence is exact numpy parity at test scale
(tests/test_projection.py).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..memo import MEMO, frame_key

RP_K = 16  # output dims for the JL sketch
RP_SEED = 1031
PCA_K = 8

_DIM = 64  # driver testdata embedding width (param everywhere below)


@lru_cache(maxsize=None)
def rp_planes(k_out: int = RP_K, dim: int = _DIM, seed: int = RP_SEED):
    """k_out x dim Gaussian matrix scaled by 1/sqrt(k_out) (the JL
    normalization), generated from a fixed seed — float64 literals
    round-trip exactly, so both engines project identically."""
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((k_out, dim)) / np.sqrt(k_out)
    return tuple(tuple(float(x) for x in row) for row in m)


def _plane_lit_sql(plane: tuple[float, ...]) -> str:
    return "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane) + ")"


def _plane_lit(plane: tuple[float, ...]) -> F.Column:
    return F.expr(_plane_lit_sql(plane))


def _fold_dot_col(vec, plane: tuple[float, ...]) -> F.Column:
    # vec is a plain column name in every query path: build the whole
    # fold as ONE SQL parse — the DSL zip_with/aggregate spelling costs
    # ~45 ms of py4j round-trips per plane, which at k_out=16 planes
    # made plan CONSTRUCTION the dominant cost of rp_project16
    # (measured r11: 0.83 s construct vs 0.18 s execute). Identical
    # expression either way: per-element double products, strict left
    # fold from 0.0 (cast_right=False: the plane literal is already
    # double, matching the DSL lambda that casts only the left side).
    from ..functions.vectors import fold_dot_sql, is_plain_name

    if is_plain_name(vec):
        return F.expr(
            fold_dot_sql(f"`{vec}`", _plane_lit_sql(plane), cast_right=False)
        )
    prods = F.zip_with(_col_of(vec), _plane_lit(plane), lambda a, b: a.cast("double") * b)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _col_of(vec) -> F.Column:
    return F.col(vec) if isinstance(vec, str) else vec


def rp_project(
    emb: DataFrame,
    k_out: int = RP_K,
    dim: int = _DIM,
    seed: int = RP_SEED,
    col: str = "embedding",
    round_dp: int | None = 4,
) -> DataFrame:
    """(vec_id, p0..p{k_out-1}) — the JL sketch as scalar columns
    (scalars, not an array: the driver canonicalizer hashes scalar
    cells). Pure projection: no shuffle, whole plan is one map stage.

    Oracle-checked outputs round to ``round_dp`` (the cross-engine
    contract every similarity query here uses: dot-product reductions
    differ from DuckDB's list_dot_product by an ulp, and the 4-dp round
    absorbs it); pass ``round_dp=None`` for raw doubles when feeding
    downstream numeric work."""
    cols = []
    for i, p in enumerate(rp_planes(k_out, dim, seed)):
        c = _fold_dot_col(col, p)
        if round_dp is not None:
            c = F.round(c, round_dp)
        # + 0.0 canonicalizes IEEE negative zero: a projection that
        # lands exactly on 0 gets -0.0 or +0.0 depending on the
        # engine's accumulation seed (DuckDB's list_dot_product folds
        # from the first product, Spark's aggregate() from +0.0), and
        # a value hasher sees different bits. x + 0.0 == x for every
        # other double. First observed at sf0.1 (dtype audit).
        cols.append((c + F.lit(0.0)).alias(f"p{i}"))
    return emb.select("vec_id", *cols)


def rp_plane_sql(
    emb_sql: str,
    k_out: int = RP_K,
    dim: int = _DIM,
    seed: int = RP_SEED,
    round_dp: int | None = 4,
) -> list[str]:
    """DuckDB spelling of each projected coordinate (repr round-trips
    float64 exactly; the 4-dp round absorbs the ulp-level reduction
    difference between list_dot_product and the sequential fold)."""
    out = []
    for p in rp_planes(k_out, dim, seed):
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        expr = f"list_dot_product({emb_sql}, {arr})"
        if round_dp is not None:
            expr = f"ROUND({expr}, {round_dp})"
        # mirror the Spark side's negative-zero canonicalization
        out.append(f"({expr} + 0.0)")
    return out


def gram_partials(emb: DataFrame, dim: int = _DIM, col: str = "embedding"):
    """Per-partition partial Gram matrices via mapInPandas: each Arrow
    batch contributes X^T X (numpy matmul); one row out per batch.
    Collecting them moves n_batches x dim^2 doubles — independent of
    corpus size."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("n", LongType()),
            StructField("g", ArrayType(DoubleType())),
            StructField("s", ArrayType(DoubleType())),
        ]
    )

    def _partial(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if pdf.empty:
                continue
            x = _np.stack(pdf[col].map(_np.asarray)).astype(_np.float64)
            yield _pd.DataFrame(
                {
                    "n": [len(x)],
                    "g": [(x.T @ x).ravel().tolist()],
                    "s": [x.sum(axis=0).tolist()],
                }
            )

    return emb.select(col).mapInPandas(_partial, schema)


def pca_components(
    emb: DataFrame, k: int = PCA_K, dim: int = _DIM, col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(components k x dim, eigenvalues k, mean dim) of the COVARIANCE
    (mean-centered Gram) via the distributed partial pass + driver
    ``eigh``. Deterministic orientation: each component's
    largest-|coordinate| entry is made positive (eigh sign is
    otherwise arbitrary). Memoized per (``memo.frame_key``, k, dim,
    col); plans with no stat-able file lineage are never memoized."""
    key = frame_key(emb)
    return MEMO.get(
        "pca",
        None if key is None else (*key, k, dim, col),
        lambda: _fit_components(emb, k, dim, col),
    )


def _fit_components(
    emb: DataFrame, k: int, dim: int, col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    rows = gram_partials(emb, dim, col).collect()
    n = sum(r["n"] for r in rows)
    g = np.zeros((dim, dim))
    s = np.zeros(dim)
    for r in rows:
        g += np.array(r["g"]).reshape(dim, dim)
        s += np.array(r["s"])
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k x dim
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    result = (comps, vals[order], mean)
    # freeze before memoizing: the memo hands out these SAME arrays by
    # reference on every hit, so a caller mutating them in place would
    # silently poison all later hits — make that a loud ValueError
    for arr in result:
        arr.setflags(write=False)
    return result


def pca_project(
    emb: DataFrame,
    k: int = PCA_K,
    dim: int = _DIM,
    col: str = "embedding",
    comps: np.ndarray | None = None,
    mean: np.ndarray | None = None,
    extra: tuple = (),
) -> DataFrame:
    """(vec_id, *extra, c0..c{k-1}) — mean-centered projection onto the
    top-k principal components. The transform is a pure projection
    (component rows as literals — at real dim x k the broadcast route
    of _assign_to_centroids applies identically). ``extra``: additional
    Columns evaluated on the SAME scan — callers that need a companion
    per-vector quantity (a norm, a label) avoid a second corpus scan +
    join by passing it here."""
    if comps is None or mean is None:
        comps, _, mean = pca_components(emb, k, dim, col)
    mean_t = tuple(float(x) for x in mean)
    cols = []
    for i, comp in enumerate(comps):
        plane = tuple(float(x) for x in comp)
        # (v - mean) . comp == v.comp - mean.comp; the constant folds
        # at the driver with the same sequential fold
        const = 0.0
        for a, b in zip(mean_t, plane):
            const = const + a * b
        cols.append(
            (_fold_dot_col(col, plane) - F.lit(const)).alias(f"c{i}")
        )
    return emb.select("vec_id", *extra, *cols)
