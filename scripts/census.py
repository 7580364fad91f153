#!/usr/bin/env python
"""Warm-path census of registered queries, read in-process with the
Spark UI off (``profile.py``). Each query runs twice (the first run
builds artifacts and memo entries); the second run is reported:

* its jobs: stage count, tasks and first stage name — at a ~0.1 s
  local floor per job, job count is the small-sf cost model;
* its stages: tasks, executor run time, input, shuffle, spill and GC,
  with the gap between the wall and the run time spread over the cores
  (the part that does not parallelize);
* the post-AQE final plan of each SQL execution (``explain()`` shows
  the initial plan, which hides AQE stage materialization, runtime
  join conversions and whether duplicate subtrees reused), with the
  output rows of every plan node;
* the reuse census of that plan (:func:`census_one`): scans per
  location, in-memory scans, reused nodes, and a flag for each pair of
  same-relation, same-schema scans that exchange reuse did not dedupe
  (the r11 q15 / funnel_conversion signature).

Usage: python scripts/census.py [names...] [--sf DIR] [--out FILE]
Defaults: every registered query, sf0.1. ``--out`` writes the JSON
report (every table above, plan text included) to FILE.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickstream_pipeline_aws_kafka_docker_airflow__spark import registry
from clickstream_pipeline_aws_kafka_docker_airflow__spark.profile import profile
from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import get_spark

_SCAN_DETAIL = re.compile(
    r"^\((\d+)\) (Scan parquet|InMemoryTableScan)", re.MULTILINE
)
_TREE_ID = re.compile(r"\((\d+)\)")


def final_section(plan: str) -> str:
    """The `== Final Plan ==` tree of an AdaptiveSparkPlan dump (whole
    tree when AQE left no marker, e.g. pure-scan plans)."""
    start = plan.find("== Final Plan ==")
    if start == -1:
        # non-adaptive: tree runs until the blank line before "(1) ..."
        m = _SCAN_DETAIL.search(plan)
        return plan[: m.start()] if m else plan
    end = plan.find("== Initial Plan ==", start)
    return plan[start : end if end != -1 else len(plan)]


def detail_blocks(plan: str) -> dict[int, str]:
    """nodeId -> detail text for every `(N) <op>` block in the dump."""
    blocks: dict[int, str] = {}
    parts = re.split(r"^\((\d+)\) ", plan, flags=re.MULTILINE)
    # parts = [prefix, id1, body1, id2, body2, ...]
    for i in range(1, len(parts) - 1, 2):
        blocks[int(parts[i])] = parts[i + 1]
    return blocks


def field(block: str, name: str) -> str:
    m = re.search(rf"^{name}: (.*)$", block, re.MULTILINE)
    return m.group(1).strip() if m else ""


def census_one(plan: str) -> dict:
    """Scan census + duplicate-subtree flags for one plan dump."""
    tree = final_section(plan)
    final_ids = {int(x) for x in _TREE_ID.findall(tree)}
    scans: dict[str, list[dict]] = {}
    for nid, body in detail_blocks(plan).items():
        loc = field(body, "Location")
        if nid not in final_ids or not loc:
            continue
        m = re.search(r"\[([^\]]*)\]", loc)
        scans.setdefault(m.group(1) if m else loc, []).append(
            {"schema": field(body, "ReadSchema"), "pushed": field(body, "PushedFilters")}
        )
    flags = []
    for loc, ss in scans.items():
        by_schema: dict[str, list[dict]] = {}
        for s in ss:
            by_schema.setdefault(s["schema"], []).append(s)
        for group in by_schema.values():
            if len(group) < 2:
                continue
            pushed = {g["pushed"] for g in group}
            stripped = {
                re.sub(r"(, )?IsNotNull\([^)]*\)(, )?", "", p) for p in pushed
            }
            kind = (
                "isnotnull-only-delta"
                if len(stripped) == 1
                else "same-schema-multi-scan"
            )
            flags.append(
                {
                    "location": loc,
                    "n_scans": len(group),
                    "kind": kind,
                    "pushed": sorted(pushed),
                }
            )
    return {
        "scans": {loc: len(ss) for loc, ss in scans.items()},
        "in_memory_scans": len(re.findall(r"InMemoryTableScan", tree)),
        "reused_nodes": len(re.findall(r"Reused(Exchange|Subquery)", tree)),
        "flags": flags,
    }


def census_query(spark, q, sf: str) -> dict:
    """Run ``q`` twice; the second run's tables and reuse census."""
    for _ in range(2):
        with profile(spark) as rec:
            q(spark, sf).write.format("noop").mode("overwrite").save()
    out = {"warm_jobs": rec.jobs, "wall_s": round(rec.wall_s, 3),
           "jobs": rec.job_table, "stages": rec.stage_table,
           "executions": [], "scans": {}, "in_memory_scans": 0,
           "reused_nodes": 0, "flags": []}
    for e in rec.executions:
        out["executions"].append({**e, "nodes": rec.plan_nodes(e["id"])})
        c = census_one(e["plan"])
        for loc, n in c["scans"].items():
            out["scans"][loc] = out["scans"].get(loc, 0) + n
        out["in_memory_scans"] += c["in_memory_scans"]
        out["reused_nodes"] += c["reused_nodes"]
        out["flags"] += c["flags"]
    return out


def show(name: str, r: dict, cores: int) -> None:
    print(f"\n########## {name}: {r['warm_jobs']} warm jobs, wall "
          f"{r['wall_s']:.2f}s, flags {len(r['flags'])}")
    for j in r["jobs"]:
        print(f"  job {j['id']}: {len(j['stages'])} stages, {j['tasks']} tasks"
              f" — {j['first_stage']}")
    for s in r["stages"]:
        print(f"  stage {s['id']} {s['status']}: tasks {s['tasks']:>3} runTime "
              f"{s['run_ms'] / 1000:.2f}s input {s['input_bytes'] >> 20}MB "
              f"shuffleRead {s['shuffle_read_bytes'] >> 20}MB shuffleWrite "
              f"{s['shuffle_write_bytes'] >> 20}MB spill "
              f"{(s['memory_spill_bytes'] + s['disk_spill_bytes']) >> 20}MB "
              f"gc {s['gc_ms'] / 1000:.2f}s")
    run_s = sum(s["run_ms"] for s in r["stages"]) / 1000
    print(f"  sum executorRunTime {run_s:.2f}s (ideal wall at {cores}c = "
          f"{run_s / cores:.2f}s; serial/driver gap ~"
          f"{r['wall_s'] - run_s / cores:.2f}s)")
    for e in r["executions"]:
        print(f"  execution {e['id']} (jobs {e['jobs']}):")
        for n in e["nodes"]:
            print(f"    [{n['id']:3d}] {n['name']:40s} rows={n['rows'] or ''!s:>12s}")


def main() -> None:
    args = list(sys.argv[1:])
    sf = "/root/testdata/sf0.1"
    out_path = None
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    spark = get_spark(app_name="census")
    qs = registry.queries()
    report: dict[str, dict] = {}
    for name in args or sorted(qs):
        try:
            report[name] = census_query(spark, qs[name], sf)
        except Exception as ex:  # noqa: BLE001 — isolate and record
            report[name] = {"error": f"{type(ex).__name__}: {str(ex)[:160]}"}
            print(f"\n########## {name}: {report[name]['error']}")
            continue
        show(name, report[name], spark.sparkContext.defaultParallelism)

    flagged = sorted(n for n, r in report.items() if r.get("flags"))
    print(f"\n{len(flagged)}/{len(report)} flagged:", ", ".join(flagged) or "none")
    if out_path:
        os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({"n_queries": len(report), "n_flagged": len(flagged),
                       "flagged": flagged, "per_query": report},
                      f, indent=1, sort_keys=True)
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
