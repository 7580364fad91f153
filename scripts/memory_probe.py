#!/usr/bin/env python
"""Executor-memory pressure probe: spill, don't OOM.

Claim under test — the last "argued, not measured" scale property:
the heavy-shuffle plans hold no unbounded in-task state, so under a
heap an order of magnitude smaller per core they complete by SPILLING
(Spark's sort/agg/shuffle-join operators go to disk via the unified
memory manager), never by OOM, and the slowdown is bounded. This is
the single-box twin of "partitions fit in executor memory at the
target SF": a plan that only works because the whole partition fits
in RAM fails this probe loudly. The one deliberate exception is the
broadcast hash BUILD — the sole non-spillable operator: at the probe's
extreme density its admission is a loud, actionable failure
(notEnoughMemoryToBuildAndBroadcastTable names the threshold
workaround), never a wrong result; the third tier measures the plans
with that operator excluded.

Protocol: ``spark.driver.memory`` is builder-time static, so the
parent spawns ONE SUBPROCESS PER TIER (same pattern as
scaling_curve.py): local[{CPUS}] at 8g (baseline), 1g (an 8x cut in
memory per core — a real cluster runs ~1-2 GB/core, so ~128 MB/core is
far past production density), and 1g with a heap-proportional 8 MB
broadcast threshold (see TIERS note). Fixed core count so ONLY the
memory axis varies. Per query: wall (min of 2
interleaved passes), completion, and the memory/disk spill bytes of
the stages the query ran (read in-process by profile.py). The
queries are the heaviest shuffle/sort/window/join shapes at sf1 —
the 10x surface scripts/make_sf1.py builds (run it first).

A query that OOMs records ``completed: false`` with the error head —
the probe reports honestly; it does not retry or tune around a
failure. Everything else is deterministic (the queries are the
registered oracled surface).

Usage:
    python scripts/make_sf1.py /tmp/sf1            # once
    python scripts/memory_probe.py                 # parent: all tiers
    python scripts/memory_probe.py --child <tier>  # (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or 8)
# (heap, autoBroadcastJoinThreshold): the third tier pairs the small
# heap with broadcasts DISABLED, because the broadcast hash build is
# the ONE operator that cannot spill — it is an admission decision,
# not a streaming one. Measured at this density: with any enabled
# threshold, whether a legitimately-small build (customer at sf1:
# 1.5 MB file, ~30 MB HashedRelation) gets admitted on a 1g heap
# depends on transient memory-manager occupancy — the same sequenced
# run completed q18 in some draws and raised
# notEnoughMemoryToBuildAndBroadcastTable in others (an 8 MB-threshold
# tier was 2-for-4). The failure is always LOUD and names the
# workaround; threshold=-1 removes the nondeterminism and exercises
# the pure shuffle/sort/agg spill path, which is the actual claim
# under test. The threshold protects only ESTIMATE-DRIVEN joins — a
# forced broadcast() hint overrides it, which is why SF-growing
# tables carry no hints (see queries/relational_q.py's module doc).
TIERS = [("8g", None), ("1g", None), ("1g", "-1")]

# Heaviest shuffle/sort/window/join shapes: big-key aggregation (q18),
# multi-join fact pipeline (q9), per-user session window (sessionize),
# histogram + rank arithmetic with two localCheckpoints (mad_outliers),
# range-partitioned triple sort (rfm), users x days distinct
# (retention), shingle-explode band join (dedup_near), vector cross
# join + window (sim_topk_bruteforce), greedy-pack applyInPandas
# (pack_sequences), and the widened PII regex scan (pii_scrub).
QUERIES = [
    "q18_large_orders",
    "q9_product_profit",
    "sessionize_30min",
    "mad_outliers",
    "rfm_segments",
    "retention_cohorts",
    "dedup_near_minhash",
    "sim_topk_bruteforce",
    "pack_sequences_greedy",
    "pii_scrub",
]


def _child(tag: str) -> None:
    from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import profile
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import get_spark

    # the heap comes from SPARK_DRIVER_MEMORY and a tier's thresholds
    # from SPARK_GRAFT_EXTRA_CONFS, both set by the parent (main)
    spark = get_spark(app_name=f"memory-probe-{tag}", cpus=CPUS)

    qs = registry.queries()
    out: dict[str, dict] = {}
    # interleaved two-pass min, same rationale as bench.py; spill is
    # summed over BOTH passes (it is a property of the plan under this
    # heap, not a timing artifact)
    for i in range(2):
        for name in QUERIES:
            st = out.setdefault(
                name,
                {"wall_s": None, "completed": True, "spill_mem_mb": 0.0,
                 "spill_disk_mb": 0.0},
            )
            if not st["completed"]:
                continue
            try:
                with profile(spark) as rec:
                    qs[name](spark, SF_DIR).write.format("noop").mode(
                        "overwrite"
                    ).save()
                w = round(rec.wall_s, 2)
                st["wall_s"] = w if st["wall_s"] is None else min(st["wall_s"], w)
            except Exception as ex:  # noqa: BLE001 — record, keep probing
                st["completed"] = False
                # Py4J's first line is just "error calling oNNN.save" —
                # walk the Java cause chain for the ROOT error so the
                # artifact records WHY (OOM class vs cancellation vs
                # broadcast build), not merely THAT it failed
                detail = str(ex).splitlines()[0][:160]
                causes: list[str] = []
                j = getattr(ex, "java_exception", None)
                seen = 0
                while j is not None and seen < 8:
                    causes.append(str(j.toString())[:200])
                    j = j.getCause()
                    seen += 1
                st["error"] = f"{type(ex).__name__}: {detail}"
                if causes:
                    st["error_causes"] = causes
                continue
            st["spill_mem_mb"] += rec.totals["memory_spill_bytes"] / 1e6
            st["spill_disk_mb"] += rec.totals["disk_spill_bytes"] / 1e6
    for st in out.values():
        st["spill_mem_mb"] = round(st["spill_mem_mb"], 1)
        st["spill_disk_mb"] = round(st["spill_disk_mb"], 1)
    print(
        "CHILD_JSON:" + json.dumps({"mem": tag, "queries": out}), flush=True
    )


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        _child(sys.argv[2])
        return
    if not os.path.isdir(SF_DIR):
        print(f"{SF_DIR} missing — run scripts/make_sf1.py first", file=sys.stderr)
        sys.exit(2)
    tiers = {}
    for mem, thr in TIERS:
        tag = mem if thr is None else f"{mem}-thr{thr}"
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_DRIVER_MEMORY=mem)
        # no-threshold tiers must measure the DEFAULTS: an inherited
        # SPARK_GRAFT_EXTRA_CONFS from a parent shell would silently
        # skew them relative to the protocol (ADVICE r8)
        env.pop("SPARK_GRAFT_EXTRA_CONFS", None)
        if thr is not None:
            # BOTH thresholds: AQE's runtime broadcast conversion is
            # governed by spark.sql.adaptive.autoBroadcastJoinThreshold
            # and does NOT follow the static conf's -1 on this build —
            # measured: with only the static conf at -1, AQE still
            # converted q18's joins to BroadcastHashJoin from true
            # runtime sizes and the 1g build OOMed. The hook is applied
            # last on every load_table, so the override survives the
            # engine's own re-application of its defaults.
            env["SPARK_GRAFT_EXTRA_CONFS"] = (
                f"spark.sql.autoBroadcastJoinThreshold={thr};"
                f"spark.sql.adaptive.autoBroadcastJoinThreshold={thr}"
            )
        args = [sys.executable, os.path.abspath(__file__), "--child", tag]
        try:
            p = subprocess.run(
                args, capture_output=True, text=True, env=env, timeout=3600,
            )
        except subprocess.TimeoutExpired:
            # a thrashing tier must not void the tiers already measured
            # — record it and keep writing the artifact
            tiers[tag] = {"tier_timeout_s": 3600}
            print(json.dumps({tag: tiers[tag]}), flush=True)
            continue
        line = next(
            (l for l in p.stdout.splitlines() if l.startswith("CHILD_JSON:")),
            None,
        )
        if line is None:
            # the whole JVM died (hard OOM) — record that, honestly
            tiers[tag] = {
                "jvm_died": True,
                "exit": p.returncode,
                "stderr_tail": p.stderr[-500:],
            }
        else:
            tiers[tag] = json.loads(line[len("CHILD_JSON:"):])
        print(json.dumps({tag: tiers[tag]}), flush=True)

    hi = tiers.get("8g", {})
    summary = {}
    if "queries" in hi:
        for n in QUERIES:
            a = hi["queries"][n]
            row = {"wall_8g_s": a["wall_s"]}
            for tag in tiers:
                if tag == "8g" or "queries" not in tiers[tag]:
                    continue
                b = tiers[tag]["queries"][n]
                row[f"wall_{tag}_s"] = b["wall_s"]
                row[f"completed_{tag}"] = b["completed"]
                row[f"slowdown_{tag}"] = (
                    round(b["wall_s"] / a["wall_s"], 2)
                    if a.get("wall_s") and b.get("wall_s")
                    else None
                )
                row[f"spill_disk_{tag}_mb"] = b["spill_disk_mb"]
            summary[n] = row
    artifact = {
        "protocol": (
            f"fixed local[{CPUS}] and shuffle partitions, one subprocess per "
            f"(heap, autoBroadcastJoinThreshold) tier {TIERS} (driver.memory "
            f"is static), sf dir {SF_DIR} "
            "(10x surface), wall = min of 2 interleaved passes, spill = "
            "memory/diskBytesSpilled summed over the stages the query ran "
            "(profile.py) across both passes. 1g at "
            f"{CPUS} cores is ~{1024 // CPUS} MB/core - several times "
            "denser than a production executor; the claim is completion "
            "by spilling with bounded slowdown, never OOM."
        ),
        "tiers": tiers,
        "summary": summary,
    }
    path = os.path.join(HERE, "docs", "PROBE_MEMORY.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
