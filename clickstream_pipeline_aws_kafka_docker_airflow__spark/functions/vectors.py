"""Vector Column builders over ``array<float>`` embedding columns.

Everything computes in DOUBLE with strict left-to-right accumulation
(``F.aggregate`` fold), matching DuckDB's ``list_dot_product`` over
``DOUBLE[]`` for oracle parity. JVM-side expressions — no UDFs — so the
64-float dot product stays inside whole-stage codegen; at 100 TB the
alternative (per-row Python) is the difference between hours and weeks.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# Plain-identifier column references can take the single-parse SQL
# spelling below; anything else (qualified names, Column expressions)
# stays on the Column-DSL path. Matched names are additionally
# backtick-quoted in the generated SQL so a name the parser would
# otherwise read as a niladic function keyword (current_date,
# current_user, ...) still resolves as the COLUMN — exactly what the
# DSL path's F.col would do.
_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def is_plain_name(s: object) -> bool:
    """True when ``s`` is a plain-identifier string eligible for the
    single-parse SQL fast paths. The shared three-site guard
    (dot/norm here, operators/projection.py, operators/similarity.py)
    made public per the r11 advice so refactors cannot silently
    diverge it."""
    return isinstance(s, str) and _NAME.match(s) is not None


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fold_dot_sql(a: str, b: str, cast_right: bool = True) -> str:
    """The EXACT fold expression the Column-DSL path builds — zip_with
    products in double, strict left fold from 0.0 — spelled as one SQL
    string so the whole tree is built by a single JVM parse instead of
    ~25 py4j round-trips (measured r11: each DSL dot/norm cost ~45 ms
    of driver-side socket chatter; the ANN queries build several per
    plan, so construction alone ran 0.9-2.3 s per query).

    ``a``/``b`` are raw SQL operand strings (already validated /
    quoted by the caller, or literal array(...) text); shared by
    operators/projection.py and operators/similarity.py so the three
    fast-path sites cannot drift apart — the plan censuses normalize
    on this one spelling. ``cast_right=False`` mirrors the DSL sites
    whose right operand is an already-double literal plane (their
    lambda casts only the left side)."""
    y = "CAST(y AS DOUBLE)" if cast_right else "y"
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * {y}), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _dot_sql(a: str, b: str) -> str:
    return fold_dot_sql(f"`{a}`", f"`{b}`")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sum_i a[i]*b[i] in double precision, index order."""
    if isinstance(a, str) and isinstance(b, str) and _NAME.match(a) and _NAME.match(b):
        return F.expr(_dot_sql(a, b))
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    if isinstance(a, str) and _NAME.match(a):
        return F.expr(f"sqrt({_dot_sql(a, a)})")
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity. CALLER CONTRACT: zero-norm vectors must be
    filtered out first (every similarity tier does — see the round-6
    zero-norm rule in docs/architecture.md); under ANSI mode this
    expression raises on the first all-zero embedding otherwise."""
    return dot(a, b) / (norm(a) * norm(b))


def _ns_dot_body(a: str, b: str) -> str:
    # list_sum over per-element products is bit-identical to
    # list_dot_product on clean doubles (probed: 0 mismatches in 20k
    # random 64-dim vectors — both fold sequentially) but never ERRORS
    # on NULL elements; COALESCE restores Spark's 0.0 fold seed for
    # empty arrays (list_sum([]) is NULL)
    return (
        f"COALESCE(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2])), 0.0)"
    )


def ns_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of ``dot`` with the ENGINE's NULL semantics made
    explicit (r11 nullish-vector fuzz find): Spark's fold returns NULL
    for a vector containing any NULL element (``acc + NULL``), while
    DuckDB's ``list_dot_product`` ERRORS ('can not contain NULL
    values'). The CASE mirrors the fold — NULL when either side has a
    NULL element (or IS NULL: ``len(NULL)`` is NULL and the comparison
    collapses the CASE to NULL), the exact dot otherwise. The THEN
    branch must itself be error-free because DuckDB's CASE is EAGER
    over vectorized chunks (probed: a guarded list_dot_product still
    throws on dirty rows in the same chunk) — hence the list_sum form,
    not list_dot_product."""
    return (
        f"CASE WHEN list_aggregate({a}, 'count') = len({a}) "
        f"AND list_aggregate({b}, 'count') = len({b}) "
        f"THEN {_ns_dot_body(a, b)} END"
    )


def ns_selfdot_sql(a: str) -> str:
    """``ns_dot_sql(a, a)`` with a single NULL-element check."""
    return (
        f"CASE WHEN list_aggregate({a}, 'count') = len({a}) "
        f"THEN {_ns_dot_body(a, a)} END"
    )
