#!/usr/bin/env python3
"""Profile every registered query, then choose the ``queries_warm`` suite.

    python3 perfbench/profile_suite.py --seed 1 --rounds 3 > perfbench/suite_profile.json

Run from the repository root. In one fresh process, with the same
isolation as ``run.py``, it generates the tables from ``--seed``, runs
every registered query once cold through the noop sink (building the
build-once artifacts), then ``--rounds`` warm rounds of all of them,
recording each query's wall and its exact Spark job count. The output
is the per-query profile plus the suite that :func:`choose` picks from
it; ``wl_queries`` reads the suite from the committed file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import gen
import harness
import run

# Forced into their stratum so the suite reaches every operator layer:
# similarity (LSH buckets), near-dup dedup (a build-once artifact) and
# text scoring.
MUST = ("ann_topk_lsh", "dedup_near_minhash", "quality_score")
SUITE_SIZE = 12


def choose(profile: dict[str, dict], k: int = SUITE_SIZE, must=MUST) -> list[str]:
    """Stratified pick: rank the queries that ran by warm wall, cut the
    ranking into ``k`` equal strata, and take from each stratum a query
    in ``must`` if it holds one, else the query closest to the stratum's
    mean wall and mean job count. The suite's mean wall and jobs per
    query then track the whole registry's."""
    ok = sorted((n for n, p in profile.items() if "error" not in p),
                key=lambda n: (profile[n]["wall_s"], n))
    picks = []
    for i in range(k):
        stratum = ok[i * len(ok) // k:(i + 1) * len(ok) // k]
        forced = [n for n in stratum if n in must]
        if forced:
            picks.append(forced[0])
            continue
        mw = statistics.mean(profile[n]["wall_s"] for n in stratum)
        mj = statistics.mean(profile[n]["jobs"] for n in stratum)
        picks.append(min(stratum, key=lambda n: (
            abs(profile[n]["wall_s"] - mw) / mw
            + abs(profile[n]["jobs"] - mj) / max(mj, 1.0), n)))
    return picks


def summary(profile: dict[str, dict], names) -> dict:
    walls = [profile[n]["wall_s"] for n in names]
    return {
        "queries": len(walls),
        "mean_wall_s": statistics.mean(walls),
        "p50_wall_s": statistics.median(walls),
        "p90_wall_s": harness.quantile(walls, 0.9),
        "mean_jobs": statistics.mean(profile[n]["jobs"] for n in names),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    work = os.path.join(run.ROOT, ".perfbench_work", f"profile_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run._isolate(work)
    sys.path.insert(0, run.ROOT)
    spark = None
    try:
        from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry, session
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import artifacts

        artifacts.ARTIFACT_ROOT = os.path.join(work, "artifacts")
        harness.forbid_fixed_tmp_paths()
        spark = session.get_spark(app_name="perfbench-profile")
        spark.sparkContext.setLogLevel("ERROR")
        sched = spark.sparkContext._jsc.sc().dagScheduler()
        sf = os.path.join(work, "sf")
        gen.write_star_schema(sf, args.seed)
        qs = registry.queries()
        profile: dict[str, dict] = {}
        for name in sorted(qs):
            t0 = time.perf_counter()
            try:
                _noop(qs[name](spark, sf))
            except Exception as e:  # noqa: BLE001 — recorded, kept out of the suite
                profile[name] = {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
                continue
            profile[name] = {"cold_s": time.perf_counter() - t0, "walls": [], "jobs_by_round": []}
        ok = [n for n in sorted(qs) if "error" not in profile[n]]
        for _ in range(args.rounds):
            for name in ok:
                j0 = sched.nextJobId()
                t0 = time.perf_counter()
                _noop(qs[name](spark, sf))
                profile[name]["walls"].append(time.perf_counter() - t0)
                profile[name]["jobs_by_round"].append(sched.nextJobId() - j0)
        for name in ok:
            p = profile[name]
            p["wall_s"] = statistics.median(p["walls"])
            p["jobs"] = statistics.median(p["jobs_by_round"])
    finally:
        try:
            if spark is not None:
                run._stop(spark)
        finally:
            run._kill_children()
            shutil.rmtree(work, ignore_errors=True)

    suite = choose(profile)
    print(json.dumps({
        "seed": args.seed,
        "rounds": args.rounds,
        "env": harness.env_record(args.seed),
        "registry": summary(profile, ok),
        "suite_summary": summary(profile, suite),
        "suite": suite,
        "queries": profile,
    }, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
