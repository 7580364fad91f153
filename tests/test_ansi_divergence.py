"""Census + regression anchors for the ANSI divergence classes found
by the generative cross-engine fuzzer (scripts/ansi_fuzzer.py, r10
verdict next-round #1; artifact docs/ANSI_DIVERGENCE.json).

The fuzzer generates random typed scalar expressions over hostile
value pools, renders each AST to Spark-ANSI SQL and the DuckDB twin
our oracles would write, evaluates both, and shrinks every
disagreement to its minimal divergent subtree. Classes found in r11,
beyond the two the r9/r10 censuses already closed:

1. ``CAST(double AS INT)`` — Spark truncates toward zero (-2.5 -> -2),
   DuckDB ROUNDS (-2.5 -> -3). Silent value divergence on ANY
   fractional source. Censused here: every cast-to-int site in every
   analyzed plan must have an integer/boolean-valued source.
2. ``slice(arr, 0, _)`` / negative length — Spark throws
   INVALID_PARAMETER_VALUE where DuckDB list_slice returns a value.
   Censused: slice sites pinned; all have start >= 1 and constant
   positive length.
3. ``array_contains(arr_with_null, missing)`` — Spark three-valued
   NULL, DuckDB list_contains FALSE. Censused: single site over
   split() output (elements never NULL).
4. ``split_part`` — Spark throws INVALID_INDEX_OF_ZERO at index 0 and
   returns NULL for NULL input where DuckDB returns ''. Censused:
   absent from every plan.
5. ``try_element_at(arr, INT_MIN)`` — Spark throws
   java.lang.IndexOutOfBoundsException (negation overflow in the
   from-end index path) instead of returning NULL. Censused: the one
   try_element_at site is a MAP-key lookup (no positional path).
6. ``FLOOR/CEIL(huge double)`` — Spark clamps to +/-2^63-1, DuckDB's
   BIGINT conversion errors. Censused: floor/ceil sites pinned, all
   arguments bounded far below 2^63 by construction.
7. ``x div 0`` (IntegralDivide) — throws vs DuckDB ``//`` NULL; the
   r10 division census missed the ``div`` spelling. Folded into
   tests/test_div_census.py (23 plans carry div sites, all
   adjudicated).

Also observed, no census needed: error-elision-by-folding — Spark
constant-folding/null-propagation can skip a sibling subexpression
that DuckDB evaluates and throws on (e.g. ``x < NULL`` folds to NULL
without evaluating x). One engine always ERRORS in this family, so
the oracle gate surfaces any instance loudly; it cannot silently
corrupt a green query/oracle pair.

Each census below pins an allowlist; the anchors assert the divergent
behavior still exists on current engine versions, so a census can't
silently become vacuous (if an anchor starts failing, the engines
converged and the census can be retired).
"""

from __future__ import annotations

import pytest

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry

from conftest import SF_SMOKE

import importlib.util
import os
import re


def _load(modname: str):
    spec = importlib.util.spec_from_file_location(
        modname,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            f"{modname}.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_pc = _load("plan_census")
call_sites = _pc.call_sites
cast_sites = _pc.cast_sites


@pytest.fixture(scope="module")
def plans(spark):
    """name -> analyzed-plan string for all registered queries, one
    sweep shared by every census in this module."""
    prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        out = {}
        for name, fn in sorted(registry.queries().items()):
            plan = (
                fn(spark, SF_SMOKE)
                ._jdf.queryExecution()
                .analyzed()
                .toString()
            )
            assert "more fields" not in plan, f"{name}: plan truncated"
            out[name] = plan
        return out
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", prev)


# --------------------------------------------------------------- censuses

# cast-to-int allowlist: normalized source-signature PREFIXES that are
# integer- or boolean-valued by construction (truncation-vs-rounding
# divergence needs a fractional source). Adjudications:
# * (lambda v + 1) / ((doc_id % ...) + ...) / (element_at(codes ...) —
#   integer arithmetic over integer columns (pq.py sub-block indices,
#   multimodal.py type pick).
# * shiftright((cast(conv(... — conv() returns BIGINT; >> keeps it
#   integral (generator.py draw normalization).
# * ((n2 > n) OR ... — boolean to int (top_tokens tie-break).
# * ((cast(regexp_count( — regexp_count returns INT/BIGINT
#   (dataset_card PII tally).
_CAST_INT_SAFE_PREFIXES = (
    "(lambda v + 1)",
    "((doc_id % ",
    "(element_at(codes",
    "shiftright((cast(conv(",
    "((n2 > n)",
    "(((cast(regexp_count(",
)


def test_cast_to_int_census(plans):
    bad = {}
    for name, plan in plans.items():
        offending = [
            src
            for src in cast_sites(plan, "int")
            if not any(src.startswith(p) for p in _CAST_INT_SAFE_PREFIXES)
        ]
        if offending:
            bad[name] = offending[:3]
    assert not bad, (
        "NEW cast-to-int site(s) with unadjudicated source: Spark "
        "TRUNCATES double->int where DuckDB ROUNDS (-2.5 -> -2 vs -3) "
        "— a silent value divergence on any fractional source. Either "
        "adjudicate the source as integer/boolean-valued in "
        f"_CAST_INT_SAFE_PREFIXES or round explicitly first: {bad}"
    )


# slice sites: (query, args) pinned exactly. start >= 1 and length a
# positive constant at each:
# * array_hof_suite: slice(split(...), 1, 3) — literals.
# * chunk_documents: slice(toks, start + 1, 32) with start from
#   sequence(0, n-1) -> start+1 >= 1; 32 constant.
# * repetition_score: slice(t, i, 3) inside transform over
#   sequence(1, n) -> i >= 1; 3 constant.
_SLICE_ALLOWED = {
    "array_hof_suite",
    "chunk_documents",
    "repetition_score",
}


def test_slice_census(plans):
    found = {n for n, p in plans.items() if call_sites(p, "slice")}
    new = found - _SLICE_ALLOWED
    assert not new, (
        "NEW slice site(s): ANSI slice throws INVALID_PARAMETER_VALUE "
        "for start=0/negative length where DuckDB list_slice returns "
        "a value — adjudicate start >= 1 and length > 0 here: "
        f"{sorted(new)}"
    )
    for name in _SLICE_ALLOWED:
        for args in call_sites(plans[name], "slice"):
            assert args[2] in {"3", "32", "-1"} or args[2].isdigit(), (
                f"{name}: slice length arg changed: {args}"
            )


def test_split_part_absent(plans):
    present = {n for n, p in plans.items() if "split_part(" in p}
    assert not present, (
        "split_part appeared in a plan: Spark throws "
        "INVALID_INDEX_OF_ZERO at index 0 and NULL-propagates NULL "
        "input where DuckDB returns '' for both — adjudicate the "
        f"index/input before use: {sorted(present)}"
    )


def test_array_contains_census(plans):
    found = {n for n, p in plans.items() if call_sites(p, "array_contains")}
    assert found <= {"array_hof_suite"}, (
        "NEW array_contains site(s): with a NULL element and a missing "
        "needle Spark returns NULL (three-valued) where DuckDB "
        "list_contains returns FALSE — adjudicate that elements are "
        f"never NULL: {sorted(found - {'array_hof_suite'})}"
    )


def test_try_element_at_census(plans):
    found = {n for n, p in plans.items() if "try_element_at(" in p}
    assert found <= {"vocab_encode"}, (
        "NEW try_element_at site(s): the positional path throws "
        "java.lang.IndexOutOfBoundsException at INT_MIN (negation "
        "overflow) instead of NULL — adjudicate the index domain or "
        f"use a map lookup: {sorted(found - {'vocab_encode'})}"
    )
    # the allowed site is a MAP-key lookup — no positional index path.
    # The map is either a literal or encode_with_vocab_df's broadcast
    # ``_vmap`` column, which the plan must build with map_from_entries
    if "vocab_encode" in found:
        plan = plans["vocab_encode"]
        sites = call_sites(plan, "try_element_at")
        assert sites and all(
            a[0].startswith("map(") or a[0] == "_vmap" for a in sites
        ), sites
        if any(a[0] == "_vmap" for a in sites):
            assert re.search(r"map_from_entries\(.*\) AS _vmap#", plan), plan


_FLOOR_CEIL_ALLOWED = {
    # FLOOR((unix_micros - unix_micros(day)) / 3.6e9): bounded by
    # micros-per-day / 3.6e9 = 24
    "time_arith_suite",
    # FLOOR(value / 25.0): value is integer-cent revenue, <= ~1e7
    "value_histogram",
    # FLOOR(o_totalprice / 1e5): totalprice decimal(12,2) -> < 1e10
    "window_funcs_suite",
}


def test_floor_ceil_census(plans):
    found = {
        n
        for n, p in plans.items()
        if call_sites(p, "FLOOR") or call_sites(p, "CEIL")
    }
    new = found - _FLOOR_CEIL_ALLOWED
    assert not new, (
        "NEW FLOOR/CEIL site(s): Spark clamps |x| >= 2^63 to the "
        "BIGINT extremes where DuckDB errors — adjudicate the "
        f"argument as bounded here: {sorted(new)}"
    )


# ---------------------------------------------------------------- anchors
#
# Each anchor pins the divergent behavior itself. If one fails, the
# engines converged on that class — retire its census knowingly, don't
# let it rot.


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect(":memory:")
    yield con
    con.close()


def _spark_val(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0][0]


def _spark_raises(spark, expr, needle):
    with pytest.raises(Exception) as ei:
        spark.sql(f"SELECT {expr} AS v").collect()
    assert needle in str(ei.value), str(ei.value)[:300]


def test_anchor_cast_double_int(spark, duck):
    assert _spark_val(spark, "CAST(-2.5 AS INT)") == -2  # truncate
    assert duck.sql("SELECT CAST(-2.5 AS INTEGER)").fetchone()[0] == -3


def test_anchor_slice_start_zero(spark, duck):
    _spark_raises(
        spark, "slice(array(1, 2, 3), 0, 1)", "INVALID_PARAMETER_VALUE"
    )
    assert duck.sql(
        "SELECT list_slice([1, 2, 3], 0, 0)"
    ).fetchone()[0] == []


def test_anchor_split_part(spark, duck):
    _spark_raises(
        spark, "split_part('a,b', ',', 0)", "INVALID_INDEX_OF_ZERO"
    )
    assert (
        duck.sql("SELECT split_part('a,b', ',', 0)").fetchone()[0] == ""
    )
    assert _spark_val(
        spark, "split_part(CAST(NULL AS STRING), ',', 1)"
    ) is None
    assert (
        duck.sql(
            "SELECT split_part(CAST(NULL AS VARCHAR), ',', 1)"
        ).fetchone()[0]
        == ""
    )


def test_anchor_array_contains_null(spark, duck):
    assert _spark_val(
        spark, "array_contains(array(CAST(NULL AS INT), 5), 1)"
    ) is None
    assert (
        duck.sql(
            "SELECT list_contains([CAST(NULL AS INTEGER), 5], 1)"
        ).fetchone()[0]
        is False
    )


def test_anchor_try_element_at_int_min(spark, duck):
    _spark_raises(
        spark,
        "try_element_at(array(1, 2, 3), (-2147483647 - 1))",
        "IndexOutOfBounds",
    )
    assert (
        duck.sql(
            "SELECT list_extract([1, 2, 3], (-2147483647 - 1))"
        ).fetchone()[0]
        is None
    )


def test_anchor_intdiv_zero(spark, duck):
    _spark_raises(spark, "(1 div 0)", "DIVIDE_BY_ZERO")
    assert duck.sql("SELECT 1 // 0").fetchone()[0] is None


def test_element_at_boundary_actually_exercised(spark):
    """r10 verdict next-round #6 (boundary seed): the element_at census
    adjudicates every index as structurally in-range — this asserts
    the BOUNDARY of that range is actually reached on real data, so
    the in-range proof is load-bearing, not vacuous. The generator's
    uniform picks must hit BOTH ends of [1, len] (an off-by-one in the
    shiftright normalization would shrink the reachable range or throw
    INVALID_ARRAY_INDEX at len+1), and the multimodal type pick must
    reach index 3 of the 3-element MEDIA_TYPES array."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.sources.generator import (
        PAGES,
        REFERRERS,
        generate_events_batch_deterministic,
    )

    ev = (
        generate_events_batch_deterministic(spark, 4000)
        .select("page", "referrer")
        .collect()
    )
    pages = {r["page"] for r in ev}
    refs = {r["referrer"] for r in ev}
    # first and last list elements = element_at indices 1 and len
    assert PAGES[0] in pages and PAGES[-1] in pages, sorted(pages)
    assert REFERRERS[0] in refs and REFERRERS[-1] in refs, sorted(refs)

    from clickstream_pipeline_aws_kafka_docker_airflow__spark.io import (
        load_table,
    )
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.multimodal import (
        MEDIA_TYPES,
        attach_fake_media,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    mt = {
        r["media_type"]
        for r in attach_fake_media(docs)
        .select("media_type")
        .distinct()
        .collect()
    }
    assert mt == set(MEDIA_TYPES), mt


def test_anchor_floor_clamp(spark, duck):
    assert _spark_val(spark, "floor(1e308)") == (1 << 63) - 1
    import duckdb as _d

    with pytest.raises(_d.Error):
        duck.sql("SELECT CAST(floor(1e308) AS BIGINT)").fetchall()
