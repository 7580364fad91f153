"""Job-count regression pins for the most expensive bench queries.

Locally every Spark job costs a fixed ~0.2 s of scheduling + commit
before any data moves, so JOB COUNT is the local cost model: a
regression that adds a driver collect, an eager checkpoint, or a lost
cache shows up here as an integer, immune to the ±10% wall-clock noise
that makes bench deltas unreadable. Ceilings are the measured warm
(second-run) counts; doing BETTER is always allowed.
"""

from __future__ import annotations

import pytest

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import profile

from conftest import SF_SMOKE

# measured warm-path counts (second run, artifacts/caches hot), r6;
# q22/rfm added r8 (q22's 0.30->0.40 s bench drift re-measured same-box
# at its old 5 jobs — wall noise, not a plan regression; rfm is the
# exact-rank rewrite: sample + AQE stage jobs across hash/range/counts/
# broadcast/pivot exchanges)
CEILINGS = {
    "q1_pricing_summary": 2,
    "q8_market_share": 6,
    "q21_waiting_supplier": 8,
    # r11: esupp rides the attribute-carrying inner join through the
    # rollup (was: a left_semi + a second esupp build + an AQE-stranded
    # lineitem shuffle behind the runtime SMJ->BHJ conversion): 12 -> 8
    "q2_min_cost_supplier": 8,
    # r11: per-part total as a window SUM over the (part,supp) rollup
    # (was: re-aggregation joined back — the rollup and its lineitem
    # scan executed twice); suppkey-level DISTINCT before the dims
    "q20_volume_share_suppliers": 7,
    # r11: supplier-rollup pin — the stitch join's inferred
    # isnotnull(l_suppkey) specialized the join branch's scan copy and
    # defeated exchange reuse against the MAX branch (6 -> 4)
    "q15_top_supplier": 4,
    # r11: v/c pins for the same inferred-isnotnull reuse failure
    # (inner step-derivation joins vs the final left-join chain): 8 -> 6
    "funnel_conversion": 6,
    "snapshot_diff": 1,
    "session_trigrams": 3,
    # r9 job diet (verdict item 3): histogram/candidate pins moved from
    # localCheckpoint (a job boundary per call, never shared) to
    # persist (materializes inside the first consuming stage, repeat
    # calls reuse); tfidf's df re-agg + token join became a bounded
    # window sum; dataset_card collapsed to one corpus scan + one
    # (source, lang) rollup
    "mad_outliers": 2,
    # r10: sh_new pin — the verify join's batch leg read the cache
    # instead of re-scanning + re-exploding the staging table (10 -> 9)
    "incremental_dedup_batch": 9,
    "tfidf_top_terms": 7,
    "dataset_card": 4,
    # r10: re-measured warm counts (ivfpq_res had drifted DOWN since
    # its r9 pin; ivfpq and q9 newly pinned at their measured counts —
    # q9's 7 includes the merge hint's +1, the recorded spill-safety
    # price; AQE cannot coalesce it away, the exchange is required)
    "ann_topk_ivfpq": 7,
    "ann_topk_ivfpq_res": 6,
    "q9_product_profit": 7,
    # r10: fit memoized per source identity + norm2 on the projection's
    # own scan (was: second embeddings scan + vec_id join)
    "pca_project8": 2,
    # r12: the train-slice left-semi join (a second documents scan +
    # broadcast) collapsed to the hash(doc_id) predicate the oracle
    # already spells: 7 -> 4
    "corpus_curation": 4,
    # r12: one-pass shapes from the reuse census (see those queries'
    # docstrings): retention 5 -> 3, join_outer 3 -> 2
    "retention_cohorts": 3,
    "join_outer_daily": 2,
    "q22_dormant_value": 5,
    # r9 cut-broadcast shape: warm run = ONE cached-scan projection job
    # (quartile cuts memoized per source identity, zero exchanges added)
    "rfm_segments": 1,
}


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_warm_job_count_within_ceiling(spark, name):
    q = registry.queries()[name]
    for _ in range(2):  # first run may build artifacts; pin the second
        with profile(spark) as rec:
            q(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    assert rec.jobs <= CEILINGS[name], (
        f"{name}: warm run launched {rec.jobs} Spark jobs "
        f"(ceiling {CEILINGS[name]}) — a collect/eager-checkpoint/"
        "cache-loss regression"
    )
