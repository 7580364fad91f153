"""Dimensionality-reduction queries: seeded random projection (full
DuckDB oracle — the matrix is a shared literal) and distributed PCA
(contract oracle — eigendecomposition has no SQL twin, so the query
emits SQL-checkable invariants instead of raw loadings; exact numpy
parity of the loadings is pinned in tests/test_projection.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.scale import widen
from ..operators.projection import (
    RP_K,
    pca_components,
    pca_project,
    rp_project,
)
from ..registry import register

_E = "CAST(embedding AS DOUBLE[])"


def _rp_oracle() -> str:
    from ..operators.projection import rp_plane_sql

    cols = ",\n       ".join(
        f"{expr} AS p{i}" for i, expr in enumerate(rp_plane_sql(_E, RP_K))
    )
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings"


@register("rp_project16", oracle=_rp_oracle())
def rp_project16(spark, sf_dir):
    """Johnson-Lindenstrauss sketch: 64-dim embeddings projected to 16
    dims by a seeded Gaussian matrix (1/sqrt(k)-scaled). Deterministic
    across engines — the matrix is a float64 literal on both sides and
    every coordinate a sequential fold. Pure projection: no shuffle,
    one map stage; the cheap pre-filter tier when PQ is too lossy
    (distance distortion bounds pinned in tests/test_projection.py)."""
    # widen: 16 x 64-dim folds per row are compute-bound; single-row-
    # group layouts scan as one task (docs/SCALING_CURVE.json) — no-op
    # at production split counts
    return rp_project(widen(load_table(spark, sf_dir, "embeddings")))


@register(
    "pca_project8",
    oracle=f"""
SELECT vec_id,
       ROUND(list_dot_product({_E}, {_E}), 4) AS norm2,
       TRUE AS proj_bounded,
       TRUE AS components_orthonormal
FROM embeddings
""",
)
def pca_project8(spark, sf_dir):
    """Distributed PCA: one mapInPandas pass computes per-batch partial
    Gram matrices (numpy X^T X per Arrow batch — collected state is
    batches x dim^2, not corpus-sized), the driver eigendecomposes the
    covariance, and the top-8 components project back as literals
    (broadcast route at real dim x k). Deterministic orientation
    (largest-|coord| positive).

    The loadings themselves have no SQL twin (eigh), so the
    cross-engine check is a CONTRACT: per vector, the exact squared
    norm (SQL twin, proven 4-dp fold pattern) plus an in-query boolean
    asserting the projection respects Bessel's bound
    ``||P(v-mean)|| <= ||v|| + ||mean||`` (an orthonormal projection is
    non-expanding), and a driver-side boolean asserting the trained
    components are orthonormal (numpy, at query build). The oracle
    asserts both TRUE — a mis-scaled projection, wrong mean, or broken
    eigensolve flips them and fails the hash. Exact numpy parity of
    the loadings is pinned in tests/test_projection.py."""
    emb = widen(load_table(spark, sf_dir, "embeddings"))
    comps, _vals, mean = pca_components(emb)

    import numpy as np

    ortho = bool(
        np.allclose(comps @ comps.T, np.eye(comps.shape[0]), atol=1e-8)
    )
    mean_norm = float(np.sqrt(float((mean * mean).sum())))

    from ..functions.vectors import dot

    norm2 = dot("embedding", "embedding")
    # norm2 rides the projection's OWN scan (r10): the previous shape
    # joined proj back to a second embeddings scan on vec_id — one
    # whole extra corpus scan + a shuffle for a per-row companion
    # column. Committed r9->r10 jobs map: 5 -> 2 warm jobs (fit
    # memoized per source identity removes the Gram re-collect; the
    # in-scan companion removes the join leg); bench wall 1.68 ->
    # 0.53 s. Residual wall is the 8x64-dim fold compute itself.
    with_norm = pca_project(
        emb, comps=comps, mean=mean, extra=(norm2.alias("_n2"),)
    )
    sum_c2 = None
    for i in range(comps.shape[0]):
        term = F.col(f"c{i}") * F.col(f"c{i}")
        sum_c2 = term if sum_c2 is None else sum_c2 + term
    bound = (F.sqrt(F.col("_n2")) + F.lit(mean_norm)) ** 2
    return with_norm.select(
        "vec_id",
        F.round(F.col("_n2"), 4).alias("norm2"),
        (sum_c2 <= bound * 1.000001 + 1e-6).alias("proj_bounded"),
        F.lit(ortho).alias("components_orthonormal"),
    )
