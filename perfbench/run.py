#!/usr/bin/env python3
"""Benchmark entry point for the clickstream engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is a fresh process with fresh
zone, checkpoint, artifact and temp dirs under ``.perfbench_work/`` in
the checkout, removed at exit. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, and the spans are written to
``.perfbench_out/trace_<workload>_<seed>.jsonl``. A correctness mismatch
makes ``correct`` false and the exit code 1.

End-to-end times are reported at reference speed: every wall of the
run is scaled by ``harness.REF_PROBE_S`` over the run's median of a
fixed CPU probe (``harness.HostSpeed``), so that the host's drift in
speed over minutes leaves them. The walls as measured are on the line
before the result.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import sys
import time

import harness  # the script's own dir is first on sys.path

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "clickstream_pipeline_aws_kafka_docker_airflow__spark"
WORKLOADS = {"queries_warm": "wl_queries", "clickstream_ticks": "wl_clickstream"}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed, seconds, work, tracer, counters, cores, speed):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.tracer, self.cores = work, tracer, cores
        self._counters = counters
        self.speed = speed
        self.setup_wall_s = self.setup_probe_s = None

    def probe(self, k: int = 1) -> float:
        """Sample the host's speed between units of work; returns the
        seconds the probe took."""
        return self.speed.sample(k)

    def setup_done(self) -> None:
        """End of set-up: its wall as measured, without the probes."""
        self.speed.sample(3)
        self.setup_probe_s = self.speed.spent
        self.setup_wall_s = time.perf_counter() - T_START - self.setup_probe_s

    def timed_probe_s(self) -> float:
        """Seconds the probes took since set-up ended."""
        return self.speed.spent - self.setup_probe_s

    def counters_read(self):
        return self._counters.read() if self._counters else None

    def engine_metrics(self, c0, c1, wall_s: float, units: int) -> dict:
        """Engine per-layer metrics of the timed region; none untraced."""
        if self._counters is None:
            return {}
        busy = self._counters.job_busy_s(c0["jobs"], c1["jobs"])
        return harness.engine_layer_metrics(c0, c1, busy, wall_s, self.cores, units)


def _isolate(work: str) -> None:
    """Point every temp location Spark, the JVM and Python use at the
    run's own dir, so runs share no state and write nothing outside
    the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the launcher's too: no perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # keep every job and stage in the status store for the counters;
    # no console progress bar on stderr
    os.environ["SPARK_SUBMIT_OPTS"] = (
        "-Dspark.ui.retainedStages=100000 -Dspark.ui.retainedJobs=100000"
        " -Dspark.ui.showConsoleProgress=false"
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.chdir(work)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit, also when the py4j connection is already broken."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001 — the JVM is stopped below either way
        print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _kill_children() -> None:
    """SIGKILL and reap any child still running: a JVM whose launch was
    interrupted never became a session that ``_stop`` could stop."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue  # the process exited while we looked
        if ppid == me:
            with contextlib.suppress(ProcessLookupError, ChildProcessError):
                os.kill(int(pid), signal.SIGKILL)
                os.waitpid(int(pid), 0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the finally block below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    if os.environ.get("SPARK_GRAFT_EXTRA_CONFS"):
        print("perfbench: refusing to run with SPARK_GRAFT_EXTRA_CONFS set",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}_{args.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    sys.path.insert(0, ROOT)

    tracer = harness.Tracer(bool(args.trace))
    speed = harness.HostSpeed()
    speed.sample(3)
    spark = None
    try:
        from clickstream_pipeline_aws_kafka_docker_airflow__spark import session
        from clickstream_pipeline_aws_kafka_docker_airflow__spark.operators import artifacts

        # build-once artifacts go to the run's own dir: every run starts cold
        artifacts.ARTIFACT_ROOT = os.path.join(work, "artifacts")
        harness.forbid_fixed_tmp_paths()
        with tracer.span("session.get_spark", op="setup"):
            spark = session.get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        speed.sample(3)
        cores = spark.sparkContext.defaultParallelism
        counters = harness.SparkCounters(spark) if args.trace else None
        ctx = Ctx(spark, args.seed, args.seconds, work, tracer, counters, cores, speed)
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        rss = harness.peak_rss_mb(spark)
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            _kill_children()
            shutil.rmtree(work, ignore_errors=True)

    failed = len(res["bad"])
    attempted = res["attempted"]
    for b in res["bad"]:
        print(f"perfbench: MISMATCH {b}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.jsonl"))
        got = {
            **res["layer"],
            "error_rate": failed / attempted,
            "trace.counter_read_s": counters.read_s,
            "traced.throughput_per_s": res["e2e"]["throughput_per_s"],
            "traced.latency_p50_s": res["e2e"]["latency_p50_s"],
            "peak_rss_mb": rss,
            "host.probe_s": speed.median_s(),
        }
        declared = spec["per_layer"]
        # a layer this workload never reaches reads 0
        values = {m["name"]: got.pop(m["name"], 0) for m in declared}
    else:
        got = {**res["e2e"], "setup_s": ctx.setup_wall_s * speed.scale()}
        declared = spec["end_to_end"]
        values = {m["name"]: got.pop(m["name"]) for m in declared}
    if got:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(got)}")
    print(json.dumps({
        "workload": args.workload,
        "env": harness.env_record(args.seed),
        "named": {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()},
        # the walls as measured, and the probe medians that scale them
        "host": {
            "setup_wall_s": ctx.setup_wall_s,
            "probe_s": speed.median_s(),
            "probes": len(speed.samples),
            "ref_probe_s": harness.REF_PROBE_S,
        },
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
