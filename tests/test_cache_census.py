"""Cache-lifetime census (r9 verdict next-round #4, what's-wrong #2):
every ``persist()``/``cache()`` site in the package, statically pinned
with a per-frame row-bound class — plus a dynamic stability check that
one dataset's full persisting-query set holds a CONSTANT number of
CacheManager entries across repeat runs (plan-identity dedupe), so a
long-lived single-dataset session cannot accrete.

Policy (decided r8, argued per-site in rankstats.py:145-152, enforced
here): query-path pins ship WITHOUT paired unpersist — releasing a
frame before its consuming plan runs would re-trigger the duplicated
recompute (and for the rankstats boundary-sampling pins, desync
nondeterministic ranks). Each pinned frame must be BOUNDED by schema/
entity cardinality, never by the corpus; the cross-DATASET accretion
that remains is handled by LRU eviction plus
``operators.maintenance.release_query_caches`` at dataset boundaries
(wired into the multi-dataset drivers, e.g. scripts/scale_probe.py).

A NEW persist site fails this suite until it is adjudicated below with
a bound rationale.
"""

from __future__ import annotations

import os
import re

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry

from conftest import SF_SMOKE

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "clickstream_pipeline_aws_kafka_docker_airflow__spark",
)

# (module-relative path, enclosing function) -> (site count, bound class)
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/dedup.py", "incremental_admission"): (
        2,
        "cand pairs (batch x band collisions, band_df_cap keeps floods "
        "linear) + sh_new batch-side shingle slice (batch docs x "
        "shingles-per-doc; r10 — its second consumer, the verify "
        "join's batch leg, re-scanned + re-exploded the staging table "
        "without the pin: 10 -> 9 warm jobs); released across "
        "datasets by release_query_caches",
    ),
    ("operators/rankstats.py", "exact_ntile"): (
        1,
        "skinny entity-level ranged frame; pins nondeterministic "
        "range-sample + mid alignment between consumers (library API; "
        "no registered query reaches it since r9's broadcast shape)",
    ),
    ("operators/rankstats.py", "exact_ntile_multi"): (
        1,
        "same pin as exact_ntile, one frame per call (library API)",
    ),
    ("operators/rankstats.py", "_derive_cuts"): (
        1,
        "TRANSIENT: released in try/finally within the call; "
        "derivation-internal only",
    ),
    ("queries/misc_q.py", "mad_outliers"): (
        2,
        "value histograms: (event_type x distinct count) rows — "
        "thousands regardless of corpus",
    ),
    ("queries/curation_q.py", "corpus_curation"): (
        1,
        "(doc_id, quality) 2-column pin blocking Catalyst pushdown-"
        "through-RoundRobin re-sink (r9 find); doc-level skinny",
    ),
    ("queries/curation_q.py", "dataset_card"): (
        1,
        "per-(source, lang) rollup: |sources| x |langs| rows",
    ),
    ("queries/funnel_q.py", "rfm_segments"): (
        1,
        "per-user RFM rollup: |users| rows, the plan's one shuffle",
    ),
    ("queries/funnel_q.py", "funnel_conversion"): (
        2,
        "per-user step frames v and c: |users| rows each; both are "
        "consumed twice and the inner-join-inferred isnotnull(user_id) "
        "specializes one copy's scan, defeating AQE exchange reuse "
        "(r11 measured: 8 -> 6 warm jobs, one events pass per step "
        "instead of two)",
    ),
    ("queries/tpch3_q.py", "q15_top_supplier"): (
        1,
        "per-supplier revenue rollup: |suppliers| rows, the plan's one "
        "shuffle; the supplier join's inferred isnotnull(l_suppkey) "
        "specializes the join branch's scan copy, defeating exchange "
        "reuse against the MAX branch (r11 measured: 6 -> 4 warm jobs, "
        "one lineitem pass instead of two)",
    ),
}

# Registered queries whose execution creates persistent cache entries,
# with the number of entries each contributes (transient pins excluded).
PERSISTING_QUERIES = {
    "rfm_segments": 1,
    "corpus_curation": 1,
    "dataset_card": 1,
    "incremental_dedup_batch": 2,
    "mad_outliers": 2,
    "funnel_conversion": 2,
    "q15_top_supplier": 1,
}


def _static_sites() -> dict[tuple[str, str], int]:
    out: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, _PKG)
            func = "<module>"
            for ln in open(path, encoding="utf-8").read().splitlines():
                m = re.match(r"def (\w+)", ln)
                if m:
                    func = m.group(1)
                if ln.strip().startswith("#"):
                    continue
                if re.search(r"\.persist\(|\.cache\(\)", ln):
                    out[(rel, func)] = out.get((rel, func), 0) + 1
    return out


def test_persist_site_census_matches_allowlist():
    sites = _static_sites()
    drift = {
        k: (sites.get(k, 0), ALLOWED.get(k, (0, ""))[0])
        for k in set(sites) | set(ALLOWED)
        if sites.get(k, 0) != ALLOWED.get(k, (0, ""))[0]
    }
    assert not drift, (
        "persist()/cache() site census drift — a NEW pin needs a "
        "bound-class adjudication here (is the frame bounded by "
        "schema/entity cardinality, never the corpus?), a REMOVED pin "
        "needs its ALLOWED entry dropped: {(file, func): (found, "
        f"pinned)}} = {drift}"
    )


def _cached_entries(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_cache_entry_count_stable_across_repeat_runs(spark):
    """One dataset, every persisting query run twice: the CacheManager
    must dedupe on plan identity — entry count equals the pinned sum
    after pass 1 and does NOT grow on pass 2. (Cross-dataset accretion
    is the documented residual, handled by release_query_caches.)"""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators.maintenance import (
        release_query_caches,
    )

    qs = registry.queries()
    release_query_caches(spark)
    try:
        for name in PERSISTING_QUERIES:
            qs[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
        first = _cached_entries(spark)
        for name in PERSISTING_QUERIES:
            qs[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
        second = _cached_entries(spark)
    finally:
        release_query_caches(spark)
    expected = sum(PERSISTING_QUERIES.values())
    assert first == expected, (
        f"pass-1 cached entries {first} != pinned {expected} — a "
        "persisting query gained/lost a pin; re-adjudicate "
        "PERSISTING_QUERIES"
    )
    assert second == first, (
        f"cache accreted on repeat run ({first} -> {second}): plan-"
        "identity dedupe broke — same-dataset repeat calls must reuse "
        "entries, not stack them"
    )
